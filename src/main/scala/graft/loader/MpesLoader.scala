package graft.loader

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** The mpes instrument loader (S3/S4/S5): SPECS Metis HDF5 files into the
  * event and timed tables.
  *
  * A raw mpes file holds one 1-D float dataset per `Stream_N` channel
  * (aliased by its `Name` attribute), an `msMarkers` dataset and a
  * `FirstEventTimeStamp` root attribute (`sed/loader/mpes/loader.py:54-140,
  * 267-347`). [[Hdf5Minimal]] decodes the files inside executor tasks;
  * the driver only gathers paths and, for channel discovery, reads the
  * first file's structure. The whole path — executor-side decode, column
  * aliasing, per-event timestamp synthesis, timed-table derivation — is
  * the reference's loader on Spark.
  */
object MpesLoader extends Loader {

  final case class StreamData(
      startTs: Double,
      channels: Seq[(String, Array[Double])],
      msMarkers: Array[Long],
  )

  /** Timestamp format of the mpes `FirstEventTimeStamp` attribute
    * (`sed/loader/mpes/loader.py:312-316`, Python
    * `"%Y-%m-%dT%H:%M:%S.%f%z"`).
    */
  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSxx")

  /** Lenient parse twin of [[TsFormat]]: Python's `%f` accepts 1-6
    * fractional digits (the real `Scan0030_2.h5` carries 3), so reading
    * must too; writing stays fixed-width 6.
    */
  private val TsParse = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("yyyy-MM-dd'T'HH:mm:ss")
    .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
    .appendPattern("xx")
    .toFormatter

  /** Write `data` as a REAL HDF5 file in the mpes instrument layout:
    * one root-level 1-D dataset per channel (each with a `Name` alias
    * attribute), an int64 `msMarkers` dataset, and the
    * `FirstEventTimeStamp` root attribute. Readable by h5py /
    * `hdf5_to_array` and by [[decode]] below.
    */
  def writeH5(path: String, data: StreamData): Unit = {
    val ts = java.time.Instant.ofEpochSecond(
      data.startTs.toLong, ((data.startTs % 1) * 1e9).toLong)
      .atOffset(java.time.ZoneOffset.UTC).format(TsFormat)
    val channelDs = data.channels.map { case (name, values) =>
      Hdf5Minimal.Dataset(name, Hdf5Minimal.F64(values), Map("Name" -> name))
    }
    Hdf5Minimal.write(path, Hdf5Minimal.Group(
      datasets = channelDs :+
        Hdf5Minimal.Dataset("msMarkers", Hdf5Minimal.I64(data.msMarkers)),
      attrs = Map("FirstEventTimeStamp" -> ts)))
  }

  /** Pure decoder of an mpes-layout HDF5 byte array — runs inside
    * executor tasks on each file's content.
    */
  def decode(bytes: Array[Byte]): StreamData = {
    val root = Hdf5Minimal.parse(bytes)
    val markers = root.dataset("msMarkers").data.asLongs
    val channels = root.datasets
      .filterNot(_.name == "msMarkers")
      .map(d => d.name -> d.data.asDoubles)
    val startTs = root.attrs.get("FirstEventTimeStamp") match {
      case Some(s) =>
        val odt = java.time.OffsetDateTime.parse(s, TsParse)
        odt.toEpochSecond.toDouble + odt.getNano / 1e9
      case None => 0.0
    }
    StreamData(startTs, channels, markers)
  }

  /** [[decode]] of one input file, failing with a message that names the
    * file when its bytes are not HDF5 at all.
    */
  private def decodeFile(rawPath: String, bytes: Array[Byte]): StreamData = {
    require(Hdf5Minimal.isHdf5(bytes), s"stream file $rawPath is not an HDF5 file")
    decode(bytes)
  }

  /** Channel discovery on a raw instrument file (`get_groups_and_aliases`,
    * `sed/loader/mpes/loader.py:232-263`): datasets whose name contains
    * `searchPattern`, aliased by their `Name` attribute when present —
    * yields e.g. `Stream_0 -> X, Stream_1 -> Y, Stream_2 -> t,
    * Stream_4 -> ADC` on the real SPECS Metis files.
    */
  def groupsAndAliases(
      bytes: Array[Byte],
      searchPattern: String = "Stream",
  ): Seq[(String, String)] = {
    val root = Hdf5Minimal.parse(bytes)
    root.datasets
      .filter(_.name.contains(searchPattern))
      .map(d => d.name -> d.attrs.getOrElse("Name", d.name))
  }

  /** Per-event epoch timestamps from ms markers (S4,
    * `sed/loader/mpes/loader.py:304-343`): event `e` carries
    * `startTs + ms/1000` for the first millisecond `ms` whose marker
    * covers it (markers are cumulative event counts per elapsed ms) —
    * the reference's step interpolation onto the event index.
    */
  def eventTimestamps(markers: Array[Long], nEvents: Int, startTs: Double): Array[Double] = {
    val ts = new Array[Double](nEvents)
    var e = 0
    var ms = 0
    while (e < nEvents) {
      while (ms < markers.length && markers(ms) <= e) ms += 1
      ts(e) = startTs + ms * 0.001
      e += 1
    }
    ts
  }

  /** Ingest stream files into the event table (S3): one `(path, content)`
    * row per file → executor-side decode → one row per event with aliased
    * channel columns, synthesized `ts`, and the explicit global ordering
    * (`file_id`, `seq`) the window-based fills require (SURVEY §7.4 risk
    * 3). One task per file, exactly like the reference's one-delayed-task
    * -per-file ingestion — at lake scale parallelism follows file count.
    *
    * `aliases` maps dataset name → event-table column (P6); datasets not
    * listed are skipped, missing datasets error out (the reference's
    * schema check).
    */
  def ingest(
      spark: SparkSession,
      paths: Seq[String],
      aliases: Seq[(String, String)],
  ): DataFrame = {
    val ordered = GenericLoader.naturalSort(paths)
    val fileIds = ordered.map(ChannelLoader.normPath).zipWithIndex.toMap
    val outSchema = StructType(
      StructField("file_id", IntegerType, nullable = false) +:
        StructField("seq", LongType, nullable = false) +:
        StructField("ts", DoubleType, nullable = false) +:
        aliases.map(a => StructField(a._2, DoubleType, nullable = false)))
    val enc: Encoder[Row] = Encoders.row(outSchema)
    val aliasesB = spark.sparkContext.broadcast(aliases)
    val fileIdsB = spark.sparkContext.broadcast(fileIds)
    ChannelLoader.fileBytesFrame(spark, ordered)
      .mapPartitions { rows =>
        val as = aliasesB.value
        rows.flatMap { r =>
          val rawPath = r.getString(0)
          val fileId = fileIdsB.value.getOrElse(ChannelLoader.normPath(rawPath), -1)
          // fail loudly: a silent -1 would corrupt the global (file_id,
          // seq) ordering every window fill depends on
          require(fileId >= 0,
            s"stream file $rawPath matches none of the input paths")
          val data = decodeFile(rawPath, r.getAs[Array[Byte]](1))
          val byName = data.channels.toMap
          val missing = as.map(_._1).filterNot(byName.contains)
          require(missing.isEmpty,
            s"stream file $rawPath missing datasets: ${missing.mkString(",")}")
          val cols = as.map { case (ds, _) => byName(ds) }
          val n = if (cols.isEmpty) 0 else cols.map(_.length).min
          val ts = eventTimestamps(data.msMarkers, n, data.startTs)
          (0 until n).iterator.map { i =>
            Row.fromSeq(fileId +: i.toLong +: ts(i) +: cols.map(_(i)))
          }
        }
      }(enc)
  }

  /** S8 [[Loader]] contract over mpes stream files: channel map
    * auto-discovered from the first file (the reference MpesLoader's
    * default), events from [[ingest]], timed table from [[ingestTimed]].
    */
  override def readDataframe(
      spark: SparkSession, paths: Seq[String]): (DataFrame, Option[DataFrame]) = {
    val ordered = GenericLoader.naturalSort(paths)
    val aliases = groupsAndAliases(readFileBytes(spark, ordered.head))
    require(aliases.nonEmpty, s"${ordered.head}: no Stream datasets found")
    val events = ingest(spark, paths, aliases)
    val timed = ingestTimed(spark, paths, aliases)
    // single small file: decode once, return a parquet-spill-backed
    // events frame (see ChannelLoader.driverLocalMaxBytes); the timed
    // frame stays lazy — most callers never materialize it
    if (ChannelLoader.eagerSmallLoad(spark, paths))
      (ChannelLoader.driverLocal(events), Some(timed))
    else (events, Some(timed))
  }

  /** Driver-side whole-file read through the Hadoop filesystem layer, so
    * channel discovery works on every scheme the ingestion itself
    * supports (hdfs://, s3a://, ...), not just local paths.
    */
  private def readFileBytes(spark: SparkSession, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** [[ingest]] with the reference's default channel discovery
    * (`hdf5_to_dataframe` with `group_names=[]`,
    * `sed/loader/mpes/loader.py:93-101`): parse the FIRST file's
    * structure, take every `Stream*` dataset aliased by its `Name`
    * attribute, then ingest all files with that channel map.
    */
  def ingestAuto(
      spark: SparkSession,
      paths: Seq[String],
      searchPattern: String = "Stream",
  ): DataFrame = {
    val ordered = GenericLoader.naturalSort(paths)
    val aliases = groupsAndAliases(readFileBytes(spark, ordered.head), searchPattern)
    require(aliases.nonEmpty, s"${ordered.head}: no $searchPattern datasets found")
    ingest(spark, paths, aliases)
  }

  /** Timed-table derivation from the same files (S5,
    * `hdf5_to_timed_dataframe`, `sed/loader/mpes/loader.py:143-229`): one
    * row per ms marker, sampling the LAST event recorded by that
    * millisecond (`g_dataset[int(point) - 1]`); markers before the first
    * event sample the first value, matching the reference's clamp.
    */
  def ingestTimed(
      spark: SparkSession,
      paths: Seq[String],
      aliases: Seq[(String, String)],
  ): DataFrame = {
    val ordered = GenericLoader.naturalSort(paths)
    val fileIds = ordered.map(ChannelLoader.normPath).zipWithIndex.toMap
    val outSchema = StructType(
      StructField("file_id", IntegerType, nullable = false) +:
        StructField("ms", LongType, nullable = false) +:
        StructField("ts", DoubleType, nullable = false) +:
        aliases.map(a => StructField(a._2, DoubleType, nullable = false)))
    val enc: Encoder[Row] = Encoders.row(outSchema)
    val aliasesB = spark.sparkContext.broadcast(aliases)
    val fileIdsB = spark.sparkContext.broadcast(fileIds)
    ChannelLoader.fileBytesFrame(spark, ordered)
      .mapPartitions { rows =>
        val as = aliasesB.value
        rows.flatMap { r =>
          val rawPath = r.getString(0)
          val fileId = fileIdsB.value.getOrElse(ChannelLoader.normPath(rawPath), -1)
          require(fileId >= 0,
            s"stream file $rawPath matches none of the input paths")
          val data = decodeFile(rawPath, r.getAs[Array[Byte]](1))
          val byName = data.channels.toMap
          val cols = as.map { case (ds, _) => byName(ds) }
          data.msMarkers.iterator.zipWithIndex.map { case (marker, ms) =>
            val at = math.max(marker.toInt - 1, 0)
            Row.fromSeq(fileId +: ms.toLong +: (data.startTs + ms * 0.001) +:
              cols.map(c => c(math.min(at, c.length - 1))))
          }
        }
      }(enc)
  }
}
