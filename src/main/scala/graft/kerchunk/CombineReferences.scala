package graft.kerchunk

import graft.core.Index
import graft.transforms.Pipelines
import org.apache.spark.sql.{Dataset, Encoders}

/** Order-preserving concat of references (transforms.py:427-554) in ONE
  * Spark job: each input is mapped to its position along the last concat
  * dim, the (position, RefSet) pairs are collected, sorted by position on
  * the driver, and concatenated by a single [[RefSet.concatRefSets]] call,
  * which parses one metadata document at a time.
  *
  * The reference range-buckets the inputs by position and merges the
  * buckets in a tree of fan-in `max_refs_per_merge` (transforms.py:446) to
  * bound one worker's memory. That tree is gone here because it bounded
  * nothing: its single result came back to the driver whole, and the
  * artifact writers build every row on the driver anyway. What it did cost
  * was a min/max/count job that scanned every input a second time, and one
  * job per tree level under adaptive execution (10 jobs for 1,000 inputs).
  * Driver memory is proportional to the references, which are
  * metadata-sized.
  *
  * Two inputs at one position are an error, not a double concat: several
  * sets scanned from one file (one per GRIB message) must be merged into
  * one per position with [[RefSet.mergeRefSets]] first.
  */
object CombineReferences {

  def combine(refs: Dataset[(Index, RefSet)],
              concatDims: Vector[String],
              identicalDims: Vector[String]): RefSet = {
    val sortDim = concatDims.last // transforms.py:449-452
    val sorted = refs.map { case (idx, rs) => (idx.findPosition(sortDim), rs) }(
      Encoders.kryo[(Int, RefSet)]).collect().sortBy(_._1)
    require(sorted.nonEmpty, "CombineReferences.combine: no references to combine")
    val positions = sorted.map(_._1)
    (1 until positions.length).find(i => positions(i) == positions(i - 1)).foreach { i =>
      val p = positions(i)
      throw new IllegalArgumentException(
        s"CombineReferences.combine: ${positions.count(_ == p)} reference sets " +
          s"share $sortDim position $p; merge each position's sets into one " +
          "with RefSet.mergeRefSets before combining")
    }
    RefSet.concatRefSets(sorted.toVector.map(_._2), sortDim, identicalDims)
  }

  /** A reference key holding a metadata DOCUMENT (not chunk bytes), in
    * either key dialect: v3 `zarr.json` docs at root or per-variable, and
    * v2 dot-files (`.zgroup`/`.zattrs`/`.zarray`/`.zmetadata`) at root or
    * per-variable. These always ride in the consolidated `.zmetadata` of
    * the parquet artifact and always survive a component-pruned read. */
  private[kerchunk] def isMetadataKey(k: String): Boolean = {
    val base = k.substring(k.lastIndexOf('/') + 1)
    base == "zarr.json" || base.startsWith(".z")
  }

  /** WriteReference (writers.py:132-195): persist as reference.json or as a
    * parquet table (key, url, offset, length, inline). */
  def writeReferenceJson(rs: RefSet, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, RefSet.toJson(rs))
  }

  /** WriteCombinedReference (transforms.py:589-635): CombineReferences |
    * WriteReference, artifact format chosen by extension. Returns the
    * combined RefSet (the singleton "store handle"). `v2Keys` emits the
    * zarr-v2-keyed artifacts the fsspec ecosystem consumes: the kerchunk
    * JSON (RefSet.toKerchunkV2Json), or — with a `.parquet` path — the
    * fsspec `LazyReferenceMapper` record layout
    * ([[writeReferenceParquetV2]]) instead of our v3-keyed layout.
    * Two Spark jobs with a parquet path, one otherwise, labelled
    * "writeCombinedReference: scan + combine" and
    * "writeCombinedReference: write". */
  def writeCombinedReference(refs: Dataset[(Index, RefSet)],
                             concatDims: Vector[String],
                             identicalDims: Vector[String],
                             outputPath: String,
                             v2Keys: Boolean = false): RefSet = {
    val spark = refs.sparkSession
    val combined = Pipelines.labelled(spark, "writeCombinedReference: scan + combine") {
      combine(refs, concatDims, identicalDims)
    }
    Pipelines.labelled(spark, "writeCombinedReference: write") {
      if (outputPath.endsWith(".parquet")) {
        if (v2Keys) writeReferenceParquetV2(spark, combined, outputPath)
        else writeReferenceParquet(spark, combined, outputPath)
      } else if (v2Keys) {
        val p = java.nio.file.Paths.get(outputPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, RefSet.toKerchunkV2Json(combined))
      } else
        writeReferenceJson(combined, outputPath)
    }
    combined
  }

  /** Parquet reference artifact — a REPO-INTERNAL layout INSPIRED BY (not
    * byte-compatible with) the fsspec LazyReferenceMapper record shape
    * (writers.py:137,157-160: `record_size=refs_per_component`, default
    * 10000). What it shares with fsspec's: chunk refs grouped per component
    * (the top-level variable), no record file over `refsPerComponent` rows,
    * and all metadata documents consolidated in one `.zmetadata` JSON with
    * the record size — the properties that keep a single component of a
    * billion-ref store openable without scanning the whole table. What it
    * does NOT share: fsspec writes positional `<var>/refs.N.parq` files
    * whose row index IS the chunk ordinal (columns path/offset/size/raw,
    * zarr-v2 keys); this artifact writes Hive-partitioned
    * `component=<var>/part-*.parquet` with explicit
    * (key, url, offset, length, inline_b64) columns, readable only by
    * [[readReferenceParquet]] (or any parquet reader — the columns are
    * self-describing). For fsspec/kerchunk ecosystem interop, emit the JSON
    * artifact (`writeReferenceJson` / `v2Keys = true`) or the byte-level
    * fsspec record layout ([[writeReferenceParquetV2]]).
    *
    * Metadata routing covers both key dialects: v3 docs (`zarr.json`,
    * `<var>/zarr.json`) and v2 docs (root `.zgroup`/`.zattrs`/`.zmetadata`
    * and per-variable `<var>/.zarray`/`.zattrs`/`.zgroup`) all land in the
    * consolidated `.zmetadata`, never in the chunk records. */
  def writeReferenceParquet(spark: org.apache.spark.sql.SparkSession,
                            rs: RefSet, path: String,
                            refsPerComponent: Int = 10000): Unit = {
    import spark.implicits._
    require(refsPerComponent > 0, "refsPerComponent must be positive")
    val (metaKeys, chunkKeys) = rs.refs.toSeq.sortBy(_._1)
      .partition { case (k, _) => isMetadataKey(k) }
    // consolidated metadata: every zarr.json doc inline, plus record_size
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaRoot = mapper.createObjectNode()
    metaRoot.put("record_size", refsPerComponent)
    val metaRefs = metaRoot.putObject("metadata")
    metaKeys.foreach { case (k, r) =>
      metaRefs.set[com.fasterxml.jackson.databind.node.ObjectNode](
        k, mapper.readTree(r.resolve()))
    }
    // chunk refs: one partition directory per component, files capped at
    // refsPerComponent records (maxRecordsPerFile). The rows are already on
    // the driver, so ONE task writes them, component after component with
    // one parquet writer open at a time; an exchange would only move them.
    // Parquet write FIRST — overwrite mode clears the directory — then the
    // consolidated metadata lands beside it
    chunkKeys.map { case (k, r) =>
      val component = k.split('/').head
      (component, k, r.url.orNull, r.offset, r.length,
        r.inline.map(java.util.Base64.getEncoder.encodeToString).orNull)
    }.toDF("component", "key", "url", "offset", "length", "inline_b64")
      .coalesce(1)
      .sortWithinPartitions("component", "key")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", refsPerComponent)
      .partitionBy("component")
      .parquet(path)
    // .zmetadata goes through the same Hadoop FS the parquet records used,
    // so the artifact works on any target (file://, hdfs://, s3a://), not
    // just the local filesystem
    val metaPath = new org.apache.hadoop.fs.Path(path, ".zmetadata")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(metaPath, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(metaRoot).getBytes("UTF-8"))
    finally out.close()
  }

  /** Read the parquet reference artifact back into a [[RefSet]] — the
    * LazyReferenceMapper open path: metadata docs from `.zmetadata`, chunk
    * refs from the per-component parquet records. Component selection
    * (`components`) prunes the read to the named variables' partition
    * directories — the point of the per-component layout: opening one
    * variable of a billion-ref store reads only its own record files. */
  def readReferenceParquet(spark: org.apache.spark.sql.SparkSession,
                           path: String,
                           components: Option[Set[String]] = None): RefSet = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaPath = new org.apache.hadoop.fs.Path(path, ".zmetadata")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(metaPath)
    val metaJson =
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in: java.io.InputStream),
        "UTF-8")
      finally in.close()
    val zm = mapper.readTree(metaJson)
    var refs = Map.empty[String, Ref]
    // Pruned reads keep EVERY root-level metadata doc (v3 "zarr.json" and
    // v2 ".zgroup"/".zattrs"/…): without the root group doc the pruned
    // RefSet is unopenable. Per-variable docs are pruned with their
    // component.
    zm.get("metadata").fields().forEachRemaining { e =>
      val isRootDoc = !e.getKey.contains('/')
      if (components.forall(cs =>
        isRootDoc || cs.contains(e.getKey.split('/').head)))
        refs += e.getKey -> Ref.inline(
          mapper.writeValueAsBytes(e.getValue))
    }
    val table0 = spark.read.parquet(path)
    val table = components match {
      case Some(cs) => // partition filter prunes to the requested dirs
        table0.where(org.apache.spark.sql.functions.col("component")
          .isin(cs.toSeq: _*))
      case None => table0
    }
    table.select("key", "url", "offset", "length", "inline_b64")
      .collect().foreach { r =>
        val inline = Option(r.getString(4))
          .map(java.util.Base64.getDecoder.decode)
        refs += r.getString(0) -> Ref(Option(r.getString(1)),
          r.getLong(2), r.getLong(3), inline)
      }
    RefSet(refs)
  }

  // ------------------------------------------------- fsspec parquet layout

  private val RefsFileRe = """refs\.(\d+)\.parq""".r

  /** A parquet OutputFile bound to a caller-owned FileSystem instance —
    * needed so checksum suppression (`setWriteChecksum(false)`, which
    * keeps `.crc` sidecars out of the fsspec artifact) applies to a
    * PRIVATE `FileSystem.newInstance`, never to the JVM-cached shared
    * filesystem other code in the process writes through. */
  private def outputFileOn(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): org.apache.parquet.io.OutputFile =
    new org.apache.parquet.io.OutputFile {
      private def wrap(s: org.apache.hadoop.fs.FSDataOutputStream) =
        new org.apache.parquet.io.PositionOutputStream {
          def getPos: Long = s.getPos
          def write(b: Int): Unit = s.write(b)
          override def write(b: Array[Byte]): Unit = s.write(b)
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            s.write(b, off, len)
          override def flush(): Unit = s.flush()
          override def close(): Unit = s.close()
        }
      def create(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream =
        wrap(fs.create(p, false))
      def createOrOverwrite(blockSizeHint: Long): org.apache.parquet.io.PositionOutputStream =
        wrap(fs.create(p, true))
      def supportsBlockSize(): Boolean = false
      def defaultBlockSize(): Long = -1L
    }

  private def parquetRefSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .addField(Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("path"))
      .addField(Types.required(INT64).named("offset"))
      .addField(Types.required(INT64).named("size"))
      .addField(Types.optional(BINARY).named("raw"))
      .named("reference")
  }

  /** Chunk-grid extent (chunks per dimension) of each array named in the
    * v2 metadata docs — what positions chunk ordinals. */
  private def gridsOf(mapper: com.fasterxml.jackson.databind.ObjectMapper,
                      docs: Seq[(String, Array[Byte])]): Map[String, Vector[Long]] =
    docs.collect { case (k, bytes) if k.endsWith("/.zarray") =>
      val (m, _) = graft.zarr.ZarrStore.parseV2(mapper.readTree(bytes), None, k)
      k.stripSuffix("/.zarray") ->
        m.shape.zip(m.chunks).map { case (s, c) => (s + c - 1L) / c }
    }.toMap

  /** Write the ACTUAL fsspec `LazyReferenceMapper` parquet artifact
    * (writers.py:137,157-160 via fsspec.implementations.reference): zarr-v2
    * metadata documents consolidated in a root `.zmetadata` JSON (with
    * `record_size`), and per-array POSITIONAL record files
    * `<var>/refs.<i>.parq` with columns (path, offset, size, raw) where the
    * row index IS the chunk ordinal (C-order over the chunk grid): ordinal
    * `o` lives at row `o % recordSize` of record `o / recordSize`, missing
    * chunks are null rows, and trailing all-missing records are simply not
    * written. This is the layout `fsspec.filesystem("reference",
    * fo=<path>)` + zarr v2 open directly — the ecosystem-interop artifact;
    * [[writeReferenceParquet]] remains the repo-internal v3-keyed layout.
    *
    * The rows are built on the driver from the RefSet it already holds,
    * so ONE task writes them, sorted by (component, record, row): each
    * record file (≤ recordSize rows) is written in turn via parquet-mr,
    * one writer open at a time. Driver memory is proportional to the
    * refs. */
  def writeReferenceParquetV2(spark: org.apache.spark.sql.SparkSession,
                              rs: RefSet, path: String,
                              recordSize: Int = 10000): Unit = {
    require(recordSize > 0, "recordSize must be positive")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val entries = RefSet.toV2Entries(rs)
    val (metaKeys, chunkKeys) = entries.partition { case (k, _) => isMetadataKey(k) }
    val metaDocs = metaKeys.map { case (k, r) => (k, r.resolve()) }

    // consolidated .zmetadata: parsed docs + record_size (the fsspec shape)
    val metaRoot = mapper.createObjectNode()
    metaRoot.put("record_size", recordSize)
    val metaNode = metaRoot.putObject("metadata")
    metaDocs.foreach { case (k, bytes) =>
      metaNode.set[com.fasterxml.jackson.databind.node.ObjectNode](
        k, mapper.readTree(bytes))
    }
    val grids = gridsOf(mapper, metaDocs)

    // (component, record, row, path, offset, size, raw) per chunk ref;
    // inline refs carry raw bytes with offset/size zeroed (fsspec writes
    // the same), pointers carry (path, offset, size)
    val rows = chunkKeys.map { case (k, r) =>
      val slash = k.lastIndexOf('/')
      require(slash > 0, s"chunk key without component: $k")
      val component = k.substring(0, slash)
      val grid = grids.getOrElse(component, throw new IllegalArgumentException(
        s"chunk key $k has no $component/.zarray metadata"))
      val idx = k.substring(slash + 1).split('.').map(_.toLong)
      val ordinal =
        if (grid.isEmpty) 0L
        else {
          require(idx.length == grid.length, s"key $k vs grid rank ${grid.length}")
          idx.zip(grid).foldLeft(0L) { case (acc, (i, g)) => acc * g + i }
        }
      (component, (ordinal / recordSize).toInt, (ordinal % recordSize).toInt,
        if (r.inline.isDefined) null else r.url.orNull,
        if (r.inline.isDefined) 0L else r.offset,
        if (r.inline.isDefined) 0L else r.length,
        r.inline.orNull)
    }

    // expected rows per (component, record): min(recordSize, total - rec*rs)
    val totals: Map[String, Long] =
      grids.map { case (v, g) => v -> math.max(1L, g.product) }
    val bTotals = spark.sparkContext.broadcast(totals)
    val bRecordSize = recordSize
    val confProps = {
      val c = spark.sessionState.newHadoopConf()
      import scala.jdk.CollectionConverters._
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    }
    val bConf = spark.sparkContext.broadcast(confProps)
    val bPath = path

    // overwrite semantics, then the distributed record-file write. The
    // checksum suppression (no .crc sidecars in the artifact) lives on a
    // PRIVATE FileSystem instance — mutating the JVM-cached shared one
    // would silently disable checksums for every other writer in-process
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(
      rootPath.toUri, spark.sessionState.newHadoopConf())
    try {
      fs.setWriteChecksum(false)
      if (fs.exists(rootPath)) fs.delete(rootPath, true)
      fs.mkdirs(rootPath)

    // the rows are on the driver already: sort them here, so that each
    // (component, record) run is contiguous, and write them in one task
    val sorted = rows.sortBy(r => (r._1, r._2, r._3))
    spark.sparkContext.parallelize(sorted, 1)
      .foreachPartition { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        bConf.value.foreach { case (k, v) => conf.set(k, v) }
        // no .crc sidecars in the artifact (fsspec expects refs.N.parq
        // only) — suppressed on a task-private instance, see outputFileOn
        val taskFs = org.apache.hadoop.fs.FileSystem.newInstance(
          new org.apache.hadoop.fs.Path(bPath).toUri, conf)
        taskFs.setWriteChecksum(false)
        val schema = parquetRefSchema
        val factory =
          new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        var writer: org.apache.parquet.hadoop.ParquetWriter[
          org.apache.parquet.example.data.Group] = null
        var cur: (String, Int) = null
        var nextRow = 0
        def nullRow(): org.apache.parquet.example.data.Group = {
          val g = factory.newGroup()
          g.add("offset", 0L); g.add("size", 0L); g
        }
        def expectedRows(c: String, rec: Int): Int = {
          val total = bTotals.value(c)
          math.min(bRecordSize.toLong, total - rec.toLong * bRecordSize).toInt
        }
        def close(): Unit = if (writer != null) {
          // pad trailing missing ordinals so the file is positionally dense
          (nextRow until expectedRows(cur._1, cur._2)).foreach(_ =>
            writer.write(nullRow()))
          writer.close(); writer = null
        }
        try {
          it.foreach { case (component, rec, row, refPath, offset, size, raw) =>
            val key = (component, rec)
            if (key != cur) {
              close()
              cur = key; nextRow = 0
              val file = new org.apache.hadoop.fs.Path(
                new org.apache.hadoop.fs.Path(bPath, key._1), s"refs.${key._2}.parq")
              taskFs.mkdirs(file.getParent)
              writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
                .builder(outputFileOn(taskFs, file))
                .withConf(conf).withType(schema).build()
            }
            (nextRow until row).foreach(_ => writer.write(nullRow()))
            val g = factory.newGroup()
            if (refPath != null) g.add("path", refPath)
            g.add("offset", offset); g.add("size", size)
            if (raw != null) g.add("raw",
              org.apache.parquet.io.api.Binary.fromConstantByteArray(raw))
            writer.write(g)
            nextRow = row + 1
          }
          close()
        } finally taskFs.close()
      }

      val metaPath = new org.apache.hadoop.fs.Path(path, ".zmetadata")
      val out = fs.create(metaPath, true)
      try out.write(mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(metaRoot).getBytes("UTF-8"))
      finally out.close()
    } finally fs.close()
  }

  /** Open an fsspec `LazyReferenceMapper` parquet artifact (ours or one
    * written by fsspec itself) back into a v3-keyed [[RefSet]]. Metadata
    * docs come from `.zmetadata`; each `<var>/refs.<i>.parq` record file is
    * read by an executor task (positional rows → chunk ordinals → v2 keys);
    * `components` prunes both to the named arrays (root docs always kept). */
  def readReferenceParquetV2(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             components: Option[Set[String]] = None): RefSet = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val conf0 = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = rootPath.getFileSystem(conf0)
    val metaJson = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path, ".zmetadata"))
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in: java.io.InputStream),
        "UTF-8")
      finally in.close()
    }
    val zm = mapper.readTree(metaJson)
    val recordSize = zm.get("record_size").asInt()
    var raw = Map.empty[String, Either[Array[Byte], (String, Long, Long)]]
    val metaDocs = Seq.newBuilder[(String, Array[Byte])]
    zm.get("metadata").fields().forEachRemaining { e =>
      val isRootDoc = !e.getKey.contains('/')
      if (components.forall(cs =>
        isRootDoc || cs.contains(e.getKey.split('/').head)))
        metaDocs += e.getKey -> mapper.writeValueAsBytes(e.getValue)
    }
    val docs = metaDocs.result()
    docs.foreach { case (k, b) => raw += k -> Left(b) }
    val grids = gridsOf(mapper, docs)

    // record files of the surviving components, read on executors
    val files: Seq[(String, Int)] = grids.keys.toSeq.sorted.flatMap { v =>
      val dir = new org.apache.hadoop.fs.Path(rootPath, v)
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
        case RefsFileRe(i) => Some((v, i.toInt))
        case _ => None
      })
    }
    val confProps = {
      import scala.jdk.CollectionConverters._
      conf0.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    }
    val bConf = spark.sparkContext.broadcast(confProps)
    val bGrids = spark.sparkContext.broadcast(grids)
    val bPath = path
    val read: Seq[(String, Either[Array[Byte], (String, Long, Long)])] =
      if (files.isEmpty) Seq.empty
      else spark.sparkContext
        .parallelize(files, math.min(files.size, 64))
        .flatMap { case (v, rec) =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          bConf.value.foreach { case (k, c) => conf.set(k, c) }
          val file = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(bPath, v), s"refs.$rec.parq")
          val reader = org.apache.parquet.hadoop.ParquetReader
            .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
              file)
            .withConf(conf).build()
          val grid = bGrids.value(v)
          val out = Seq.newBuilder[(String, Either[Array[Byte], (String, Long, Long)])]
          try {
            var row = 0
            var g = reader.read()
            while (g != null) {
              val ordinal = rec.toLong * recordSize + row
              val hasPath = g.getFieldRepetitionCount("path") > 0
              val hasRaw = g.getFieldRepetitionCount("raw") > 0
              if (hasPath || hasRaw) {
                val idx =
                  if (grid.isEmpty) Vector("0")
                  else {
                    var rem = ordinal
                    grid.reverse.map { gdim =>
                      val i = rem % gdim; rem /= gdim; i.toString
                    }.reverse
                  }
                val v2key = s"$v/${idx.mkString(".")}"
                val entry: Either[Array[Byte], (String, Long, Long)] =
                  if (hasRaw) Left(g.getBinary("raw", 0).getBytes)
                  else Right((g.getString("path", 0),
                    g.getLong("offset", 0), g.getLong("size", 0)))
                out += v2key -> entry
              }
              row += 1
              g = reader.read()
            }
          } finally reader.close()
          out.result()
        }
        .collect().toSeq
    read.foreach { case (k, e) => raw += k -> e }
    RefSet.fromV2Raw(raw)
  }
}
