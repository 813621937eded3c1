package graft.sources

import org.apache.spark.sql.SparkSession

/** Driver-direct parquet I/O for TINY metadata trees (r20
  * optimization — guide §5: the driver may do trivial metadata work;
  * a few-row manifest needs no cluster job). A COW commit's
  * manifest/meta, a graph index's hnswmeta, and every read of those
  * trees previously went through `spark.read.parquet` /
  * `repartition(1).write.parquet` — each one a directory listing, a
  * schema resolve, a query plan and a one-task Spark job, ~40–100 ms
  * of pure fixed cost per call on a stage-latency-bound path. These
  * helpers stream the same files through parquet-java's example
  * Group API on the driver instead.
  *
  * Layout parity is the contract: [[write]] produces what
  * `Seq(tuples).toDF(...).repartition(1).write.parquet` produced —
  * one `part-*.snappy.parquet` plus a `_SUCCESS` marker, physical
  * schema DECLARED by the caller (required int32/int64/boolean/string
  * fields, same names, same order) — so Spark readers and existing
  * stores interoperate in both directions; [[readGroups]] reads any
  * Spark-written file of these shapes (dictionary pages, optional
  * fields) because each file is decoded under its own footer schema.
  *
  * FOOTER helpers answer the two questions a COW store used to ask of
  * its own data trees through Spark jobs: a tree's Spark schema
  * ([[footerSchema]] — what `spark.read.parquet(dir).schema` infers,
  * which launches a one-task schema-merge job per read) and a
  * generation's per-bucket row counts ([[bucketRowCounts]] — what a
  * write-back `groupBy("_cs_bucket").count()` scanned). Both read only
  * parquet footers on the driver, over the files Spark's file index
  * would list (names starting with `_` or `.` skipped), so a store's
  * read planning and commit bookkeeping start no Spark job.
  *
  * The LISTING helper [[dataFileStatuses]] is that same data-file
  * filter over one non-recursive listing of a leaf directory. It feeds
  * [[CowFileIndex]], so a store read plans from the directories its
  * manifest names instead of Spark's file index, which lists more
  * than 32 paths with a parallel Spark job.
  *
  * Every READ opens its file once through [[open]], which hands the
  * session's Hadoop conf (`newHadoopConf()`) to parquet-java twice: to
  * the input file and as explicit `HadoopReadOptions`. Without the
  * options parquet-java builds a default `Configuration` per file and
  * parses its XML defaults. Measured on one driver-written one-file
  * tree (median of 300 calls, warm JVM, 4 vCPU): [[rowCount]] (listing
  * plus one footer) took 13.9 ms that way and takes 1.2 ms now, and
  * [[readGroups]] of a 64-row manifest 16.7 ms against 2.0 ms. A COW
  * commit reads about 20 footers and metadata files and a maintenance
  * pass up to 32 manifests, so this fixed cost set the commit's
  * driver time. Footers come from that reader, and rows are decoded
  * from its row groups with the example Group converter, so no
  * `ParquetReader` (and no second default conf) is built.
  */
private[graft] object TinyParquet {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Overwrite `dir` with one parquet file of `rows` under the given
    * physical schema. Field writes are SCHEMA-driven, not
    * value-class-driven: Scala harmonizes a mixed Int/Long Seq to
    * Seq[Long] (widening the Int elements), so matching on the
    * runtime class would hand a LongValue to an int32 column writer
    * (an UnsupportedOperationException deep in the page writer). The
    * declared field type is the single source of truth; a value the
    * field can't exactly hold fails loudly here instead.
    */
  def write(spark: SparkSession, dir: String,
      parquetSchema: String, rows: Seq[Seq[Any]]): Unit = {
    val f = fs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    f.delete(dirPath, true)
    f.mkdirs(dirPath)
    writePartFile(spark, dir, parquetSchema, rows)
    f.create(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"), true).close()
  }

  /** APPEND `rows` to `dir` as one new uniquely-named part file — the
    * per-batch log-append shape (`write.mode("append")` parity): the
    * directory is created if missing and never cleared, so files from
    * the Spark writer and this one coexist (same declared schema ⇒
    * the by-name union resolves identically). A `null` value is
    * written as an unset OPTIONAL field, matching how the Spark
    * writer lands a None.
    */
  def appendRows(spark: SparkSession, dir: String,
      parquetSchema: String, rows: Seq[Seq[Any]]): Unit = {
    val f = fs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    if (!f.exists(dirPath)) f.mkdirs(dirPath)
    writePartFile(spark, dir, parquetSchema, rows)
  }

  private def writePartFile(spark: SparkSession, dir: String,
      parquetSchema: String, rows: Seq[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Type.Repetition
    val schema = MessageTypeParser.parseMessageType(parquetSchema)
    val file = new org.apache.hadoop.fs.Path(
      s"$dir/part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = ExampleParquetWriter.builder(file)
      .withConf(spark.sessionState.newHadoopConf())
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val fieldTypes = (0 until schema.getFieldCount).map(i =>
      schema.getType(i).asPrimitiveType().getPrimitiveTypeName)
    try rows.foreach { r =>
      require(r.size == fieldTypes.size,
        s"TinyParquet.write: row arity ${r.size} != schema ${fieldTypes.size}")
      val g = new SimpleGroup(schema)
      r.zipWithIndex.foreach { case (v, i) =>
        (fieldTypes(i), v) match {
          case (_, null) =>
            require(schema.getType(i).isRepetition(Repetition.OPTIONAL),
              s"TinyParquet.write: null for non-optional field $i")
          case (PrimitiveTypeName.INT32, n: Int) => g.add(i, n)
          case (PrimitiveTypeName.INT32, n: Long) if n.isValidInt =>
            g.add(i, n.toInt)
          case (PrimitiveTypeName.INT64, n: Int) => g.add(i, n.toLong)
          case (PrimitiveTypeName.INT64, n: Long) => g.add(i, n)
          case (PrimitiveTypeName.BOOLEAN, b: Boolean) => g.add(i, b)
          case (PrimitiveTypeName.BINARY, t: String) => g.add(i, t)
          case (t, x) => throw new IllegalArgumentException(
            s"TinyParquet.write: value $x does not fit field $i ($t)")
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Every row of every `*.parquet` file under `dir` (non-recursive,
    * name-sorted — the one-file layout both writers produce), as
    * example Groups. Callers test column presence via
    * `g.getType.containsField(name)` and extract with the typed
    * getters — the same by-name access the Spark reader gave them.
    * A missing directory fails loudly (FileNotFoundException), like
    * `spark.read.parquet` did.
    */
  def readGroups(spark: SparkSession, dir: String)
      : Seq[org.apache.parquet.example.data.Group] = {
    val files = fs(spark, dir)
      .listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val conf = spark.sessionState.newHadoopConf()
    files.flatMap(st => readGroupsFile(conf, st.getPath)).toSeq
  }

  /** The files a Spark read of `dir` would treat as data, name-sorted:
    * one non-recursive listing, keeping everything but subdirectories
    * and the names Spark's file index hides (`_`- or `.`-prefixed —
    * `_SUCCESS`, `_WRITER`, `.crc` siblings — and `._COPYING_`
    * leftovers).
    */
  def dataFileStatuses(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs(spark, dir).listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile)
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
      }
      .sortBy(_.getPath.getName).toSeq

  /** One parquet file opened with `conf` passed both to the input
    * file and, as explicit read options, to the reader — never a
    * default `Configuration` (see the module doc for the cost).
    */
  private def open(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, file).build())

  private def footer(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = open(conf, file)
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema `spark.read.parquet(dir).schema` infers for a
    * flat tree (data files directly under `dir`), from ONE footer and
    * no Spark job: the row schema the Spark writer recorded under
    * its row-metadata key, else the parquet schema converted under
    * the session's conf — then made nullable at every depth, as a
    * file source's relation does.
    */
  def footerSchema(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType = {
    val file = dataFileStatuses(spark, dir).headOption.map(_.getPath)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet data file in $dir"))
    val meta = footer(spark.sessionState.newHadoopConf(), file)
      .getFileMetaData
    val recorded = Option(meta.getKeyValueMetaData.get(
      org.apache.spark.sql.execution.datasources.parquet
        .ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(json)).toOption)
      .collect { case st: org.apache.spark.sql.types.StructType => st }
    val schema = recorded.getOrElse(
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
    asNullable(schema).asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** `dt` with every field, array element and map value nullable. */
  def asNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), true)
      case m: MapType =>
        MapType(asNullable(m.keyType), asNullable(m.valueType), true)
      case other => other
    }
  }

  /** Total rows of a flat tree — the sum of its data files' footer
    * row-group counts; `spark.read.parquet(dir).count()` without the
    * job.
    */
  def rowCount(spark: SparkSession, dir: String): Long =
    rowCount(spark, spark.sessionState.newHadoopConf(), dir)

  private def rowCount(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration, dir: String): Long = {
    import scala.jdk.CollectionConverters._
    dataFileStatuses(spark, dir)
      .map(st => footer(conf, st.getPath).getBlocks.asScala
        .map(_.getRowCount).sum).sum
  }

  /** Rows per `_cs_bucket=<b>` subdirectory of a bucket-partitioned
    * generation — `spark.read.parquet(genDir).groupBy("_cs_bucket")
    * .count()` from footers: buckets whose files hold no row are
    * absent, as they are from the aggregate.
    */
  def bucketRowCounts(spark: SparkSession, genDir: String): Map[Int, Long] = {
    val conf = spark.sessionState.newHadoopConf()
    fs(spark, genDir).listStatus(new org.apache.hadoop.fs.Path(genDir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("_cs_bucket=") =>
        n.stripPrefix("_cs_bucket=").toInt ->
          rowCount(spark, conf, s"$genDir/$n")
      }
      .filter(_._2 > 0).toMap
  }

  /** Every row of ONE parquet file, as example Groups: each row group
    * decoded under the file's own schema through the record reader
    * parquet-java's example `ParquetReader` builds, on a reader opened
    * with the session's conf ([[open]]).
    */
  def readGroupsFile(spark: SparkSession,
      file: org.apache.hadoop.fs.Path)
      : Seq[org.apache.parquet.example.data.Group] =
    readGroupsFile(spark.sessionState.newHadoopConf(), file)

  private def readGroupsFile(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path)
      : Seq[org.apache.parquet.example.data.Group] = {
    val reader = open(conf, file)
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = meta.getSchema
      val columns = new org.apache.parquet.io.ColumnIOFactory(
        meta.getCreatedBy).getColumnIO(schema)
      val rows = Vector.newBuilder[org.apache.parquet.example.data.Group]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = columns.getRecordReader(pages,
          new org.apache.parquet.example.data.simple.convert
            .GroupRecordConverter(schema))
        var i = 0L
        while (i < pages.getRowCount) { rows += records.read(); i += 1 }
        pages = reader.readNextRowGroup()
      }
      rows.result()
    } finally reader.close()
  }
}
