package graft.transforms

import graft.core._
import graft.core.Attrs.Attrs
import graft.combiners.SchemaCombine
import graft.patterns.{FilePattern, FileType}
import graft.rechunking.Rechunking
import graft.zarr.ZarrGroup
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

/** A fragment about to enter the rechunk shuffle exceeds the kryo
  * serializer's write-buffer ceiling — it would otherwise fail later and
  * opaquely (`KryoException: Buffer overflow`) inside the shuffle writer.
  * Remedies, in preference order: shrink the slab (`itemsPerFragment` /
  * `target_chunks` bytes) so fragments fit the default ceiling, or raise
  * `spark.kryoserializer.buffer.max` (SCALE_r6 deploy finding #1). */
final class FragmentExceedsSerializerBufferException(
    index: Index, fragmentBytes: Long, bufferMax: Long)
  extends IllegalArgumentException(
    s"fragment $index is ~$fragmentBytes bytes of array data, which " +
      s"exceeds spark.kryoserializer.buffer.max=$bufferMax; shrink " +
      "itemsPerFragment/target_chunks so slabs fit the serializer buffer, " +
      "or raise spark.kryoserializer.buffer.max")

/** The user-facing pipeline composites, re-expressed on typed Datasets.
  *
  * Shape (SURVEY §3.1): parallelize(pattern.items) → map(open) →
  * schema reduction (partial per-partition fold + tiny driver merge) →
  * broadcast schema → map(reindex) → flatMap(split) → groupByKey →
  * mapGroups(combine) → map(write region) — the reference's physical shape
  * minus Beam. When no target chunk gathers pieces of two fragments
  * ([[graft.rechunking.Rechunking.everyChunkOwned]], decided from the
  * schema alone), the groupByKey would regroup nothing and `storeToZarr`
  * writes each piece in the task that split it: no shuffle at all.
  *
  * Scale notes: fragment payloads move through Kryo-encoded binary columns;
  * the only all-to-one step is the schema merge, which is metadata-sized
  * (~1 KB per input file). When chunks are shared, the rechunk groupByKey —
  * the reference's acknowledged hotspot (transforms.py:414) — shuffles each
  * fragment byte exactly once, keyed by disjoint target-chunk groups; on
  * either path writes need no locks, because each storage object is
  * written by exactly one task.
  */
object Pipelines {

  /** Source: enumerate the pattern matrix on the driver (metadata-sized even
    * at 100 TB — it is a list of URLs) and distribute. */
  def createItems(spark: SparkSession, pattern: FilePattern,
                  numSlices: Int = 0): Dataset[(Index, String)] = {
    val items = pattern.items.toSeq
    val n = if (numSlices > 0) numSlices
      else math.min(items.size, spark.sparkContext.defaultParallelism)
    spark.createDataset(spark.sparkContext.parallelize(items, math.max(n, 1)))(
      Encoders.kryo[(Index, String)])
  }

  /** OpenWithXarray analog: URL → Fragment via the FileType registry. */
  def openWithFragments(items: Dataset[(Index, String)],
                        fileType: FileType.Value): Dataset[(Index, Fragment)] =
    items.map { case (idx, url) =>
      (idx, Openers.open(fileType, url))
    }(Encoders.kryo[(Index, Fragment)])

  /** OpenWithKerchunk analog (transforms.py:178-213 + openers.py:137-204):
    * URL → virtual-Zarr chunk references, dispatched per format like the
    * reference's `SingleHdf5ToZarr`/`NetCDF3ToZarr`/`scan_grib` registry.
    * Header-only: each task reads file METADATA and emits byte-range refs
    * into the original file — no array data moves, which is the whole point
    * at 100 TB. GRIB files hold several messages; `gribFilter` is the
    * `kerchunk_open_kwargs={"filter": ...}` analog (applied to the scanned
    * message inventory before refs are emitted), and each kept message
    * becomes one RefSet exactly as `scan_grib` yields one reference set per
    * message. Other formats yield a single RefSet per file. */
  def openWithKerchunk(items: Dataset[(Index, String)],
                       fileType: FileType.Value,
                       inlineThreshold: Int = 300,
                       gribFilter: graft.grib.Grib2.Message => Boolean = _ => true)
      : Dataset[(Index, Vector[graft.kerchunk.RefSet])] = {
    import graft.kerchunk.RefSet
    items.map { case (idx, url) =>
      val refs: Vector[RefSet] = fileType match {
        case FileType.Zarr => Vector(RefSet.scanZarrGroup(url, inlineThreshold))
        case FileType.Netcdf3 => Vector(RefSet.scanNetCDF3(url, inlineThreshold))
        case FileType.Netcdf4 => Vector(RefSet.scanHdf5(url, inlineThreshold))
        case FileType.Grib =>
          // ONE header walk: filter the inventory first, then emit refs —
          // a kept message sharing its byte range with a filtered-out field
          // is still unrepresentable (the grib codec decodes whole messages)
          val inventory = graft.grib.Grib2.scan(url)
          val multiField = inventory.groupBy(_.offset)
            .filter(_._2.length > 1).keySet
          val kept = inventory.filter(gribFilter)
          kept.foreach { m =>
            require(!multiField.contains(m.offset),
              s"$url: message at ${m.offset} has multiple fields; " +
                "not representable as chunk refs even after filtering")
          }
          RefSet.scanGrib2Messages(url, kept)
        case FileType.Tiff => Vector(RefSet.scanTiff(url, inlineThreshold))
        case other => throw new IllegalArgumentException(
          s"OpenWithKerchunk: no reference scanner for file type $other " +
            "(kerchunk requires a random-access container: zarr, netcdf3, " +
            "netcdf4/hdf5, grib, or tiff)")
      }
      (idx, refs)
    }(Encoders.kryo[(Index, Vector[graft.kerchunk.RefSet])])
  }

  /** Distributed scan of ONE existing Zarr store along `dim` — the
    * rechunk-an-existing-store source (examples/feedstock/gpcp_rechunk.py:
    * 16-36). The driver reads only store metadata to plan slab boundaries
    * and spreads the slab list without a shuffle; each task then range-reads
    * its own slab's chunks (readFragmentRegion), so a 100 TB store scans
    * with zero driver data movement and parallelism = number of slabs.
    * Slab arrays are deferred: a pass that looks only at metadata (the
    * schema pass of storeToZarr) reads each slab's `zarr.json` documents
    * and no chunk. The returned items carry ordinal positions and flow
    * straight into rechunk/storeToZarr. */
  def scanZarrStore(spark: SparkSession, storePath: String, dim: String,
                    itemsPerFragment: Int): Dataset[(Index, Fragment)] = {
    require(itemsPerFragment > 0, "itemsPerFragment must be > 0")
    val g = ZarrGroup(storePath)
    val dimLen = {
      val carrier = g.arrayNames.find(n =>
        g.arrayMeta(n).dimensionNames.contains(dim)).getOrElse(
        throw new IllegalArgumentException(s"No array in $storePath has dim $dim"))
      val m = g.arrayMeta(carrier)
      m.shape(m.dimensionNames.indexOf(dim))
    }
    val d = Dimension(dim, CombineOp.Concat)
    // ordinal positions, like a file sequence: determineSchema stamps the
    // per-slab chunk layout and indexItems upgrades to element offsets
    val slabs: Seq[(Index, Slc)] =
      (0 until dimLen by itemsPerFragment).zipWithIndex.map { case (lo, i) =>
        val hi = math.min(lo + itemsPerFragment, dimLen)
        (Index.of(d -> Pos(i)), Slc(lo, hi))
      }
    val n = math.max(1, math.min(slabs.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(spark.sparkContext.parallelize(slabs, n))(
      Encoders.kryo[(Index, Slc)])
      .map { case (idx, sl) =>
        (idx, ZarrGroup(storePath).readFragmentRegion(Map(dim -> sl), deferred = true))
      }(Encoders.kryo[(Index, Fragment)])
  }

  /** DetermineSchema (transforms.py:276-301): hierarchical reduction over
    * the combine dims. Inner dims reduce per outer-index key; the final dim
    * reduces globally via per-partition folds + a driver merge (the partial/
    * final split Beam gets from CombineFn lifting).
    */
  def determineSchema(frags: Dataset[(Index, Fragment)],
                      combineDims: Vector[Dimension]): CubeSchema = {
    val spark = frags.sparkSession
    var schemas: Dataset[(Index, CubeSchema)] =
      frags.map { case (idx, f) => (idx, CubeSchema.fromFragment(f)) }(
        Encoders.kryo[(Index, CubeSchema)])
    var cdims = combineDims
    while (cdims.nonEmpty) {
      val lastDim = cdims.last
      cdims = cdims.dropRight(1)
      if (cdims.isEmpty) {
        // global combine: fold per partition, merge the handful on the driver
        val partials = schemas.mapPartitions { it =>
          val acc = it.foldLeft(SchemaCombine.zero(lastDim)) { (a, kv) =>
            SchemaCombine.addInput(a, kv, lastDim) }
          Iterator.single(acc)
        }(Encoders.kryo[SchemaCombine.Acc]).collect()
        val merged = partials.foldLeft(SchemaCombine.zero(lastDim))(SchemaCombine.merge)
        return SchemaCombine.extract(merged)
      } else {
        // nest + combine per outer-index key (transforms.py:249-267)
        schemas = schemas
          .groupByKey { case (idx, _) =>
            Index(idx.entries.filterNot(_._1 == lastDim)).canonical
          }(Encoders.STRING)
          .mapGroups { (_, it) =>
            val buf = it.toVector
            val outer = Index(buf.head._1.entries.filterNot(_._1 == lastDim))
            val acc = buf.foldLeft(SchemaCombine.zero(lastDim)) { (a, kv) =>
              val (idx, sch) = kv
              SchemaCombine.addInput(a, (idx, sch), lastDim)
            }
            (outer, SchemaCombine.extract(acc))
          }(Encoders.kryo[(Index, CubeSchema)])
      }
    }
    throw new IllegalArgumentException("combineDims must be non-empty")
  }

  /** IndexItems (transforms.py:304-328): broadcast-singleton join upgrading
    * ordinal positions to element offsets. */
  def indexItems(frags: Dataset[(Index, Fragment)], schema: CubeSchema,
                 appendOffset: Int = 0): Dataset[(Index, Fragment)] = {
    val bc = frags.sparkSession.sparkContext.broadcast(schema)
    frags.map { case (index, ds) =>
      val newEntries = index.entries.map { case (dimkey, dimval) =>
        if (dimkey.operation == CombineOp.Concat) {
          val itemLenDict = bc.value.chunks(dimkey.name)
          val itemLens = (0 until itemLenDict.size).map(itemLenDict(_)).toVector
          dimkey -> FilePattern.augmentIndexWithStartStop(dimval, itemLens, appendOffset)
        } else dimkey -> dimval
      }
      (Index(newEntries), ds)
    }(Encoders.kryo[(Index, Fragment)])
  }

  /** Rechunk (transforms.py:401-417): flatMap(split) → groupByKey →
    * mapGroups(combine). One shuffle, keyed by target-chunk group; it runs
    * whether or not the groups regroup anything (`storeToZarr` skips it
    * when they would not). */
  def rechunk(frags: Dataset[(Index, Fragment)],
              targetChunks: Option[Map[String, Int]],
              schema: Option[CubeSchema]): Dataset[(Index, Fragment)] = {
    val split = guardedSplit(frags.sparkSession, targetChunks, schema)
    frags
      .flatMap { case (idx, ds) =>
        split(idx, ds).map { case (k, v) => (Rechunking.groupKeyString(k), v) }
      }(Encoders.kryo[(String, (Index, Fragment))])
      .groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (_, it) =>
        Rechunking.combineFragments(it.map(_._2).toSeq)
      }(Encoders.kryo[(Index, Fragment)])
  }

  /** `Rechunking.splitFragment` with a deploy-time guard (SCALE_r6 finding
    * #1): a split fragment rides the shuffle through the kryo serializer,
    * whose write buffer is capped at `spark.kryoserializer.buffer.max`
    * (64m default) — an oversized slab used to die in an opaque
    * `KryoException: Buffer overflow` deep in the shuffle writer. Check the
    * array mass up front and fail with the fragment's index, its size, and
    * both remedies instead. The shuffle-free write path keeps the same
    * limit, so a slab size valid on one path is valid on the other. */
  private def guardedSplit(spark: SparkSession,
                           targetChunks: Option[Map[String, Int]],
                           schema: Option[CubeSchema])
      : (Index, Fragment) => Iterator[(Rechunking.GroupKey, (Index, Fragment))] = {
    val bufferMax = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.kryoserializer.buffer.max", "64m"))
    (idx, ds) => Rechunking.splitFragment(idx, ds, targetChunks, schema).map {
      case kv @ (_, (pieceIdx, piece)) =>
        val est = piece.approxBytes
        if (est > bufferMax)
          throw new FragmentExceedsSerializerBufferException(pieceIdx, est, bufferMax)
        kv
    }
  }

  /** Run `body` with `label` as the description of the Spark jobs it
    * starts, then restore the caller's description. */
  private def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prior)
  }

  /** Per-variable output encoding — the StoreToZarr `encoding=` kwarg
    * (tests/test_writers.py:191-217: `encoding={"foo": {"compressors":
    * BloscCodec(cname="zstd", clevel=3, shuffle="shuffle")}}`). At most one
    * compressor per variable; variables absent from the map inherit the
    * store-wide `gzipLevel`. */
  final case class VarEncoding(gzipLevel: Option[Int] = None,
                               zstdLevel: Option[Int] = None,
                               blosc: Option[graft.zarr.Blosc.Params] = None) {
    // enforce the one-compressor contract at construction — a chain with
    // two compression codecs would write metadata the chunk encoder does
    // not honor, corrupting the store for conformant external readers
    require(Seq(gzipLevel, zstdLevel, blosc).count(_.isDefined) <= 1,
      "VarEncoding: at most one compressor (gzip/zstd/blosc) per variable")
  }

  /** PrepareZarrTarget (transforms.py:331-379 + aggregation.py:254-281):
    * initialize the store metadata from the schema (driver-side; one-time).
    * Coordinate data is NOT written here — fragments write it (coords-once
    * rule), exactly like compute=False in the reference.
    */
  def prepareZarrTarget(schema0: CubeSchema, path: String,
                        targetChunks: Map[String, Int] = Map.empty,
                        extraAttrs: Attrs = Attrs.empty,
                        appendDim: Option[String] = None,
                        gzipLevel: Option[Int] = None,
                        targetShards: Map[String, Int] = Map.empty,
                        encoding: Map[String, VarEncoding] = Map.empty,
                        zarrFormat: Int = 3): ZarrGroup = {
    require(zarrFormat == 3 || targetShards.isEmpty,
      "zarr v2 has no sharding_indexed — drop targetShards or write v3")
    val schema = appendDim match {
      case Some(ad) => schema0.copy(coords = schema0.coords.filter(_._1 == ad))
      case None => schema0
    }
    val (template, chunksFull) = CubeSchema.toTemplate(schema, targetChunks, extraAttrs)
    // appending opens an EXISTING store, whose on-disk layout decides the
    // format; only a fresh create needs the explicit hint
    val g = appendDim match {
      case Some(_) => ZarrGroup(path)
      case None => ZarrGroup(path, zarrFormat)
    }
    appendDim match {
      case None =>
        g.initGroup(template.attrs)
        template.allVars.foreach { case (name, v) =>
          val chunkShape = v.dims.map(chunksFull(_))
          val shard =
            if (targetShards.isEmpty) None
            else Some(v.dims.zip(chunkShape).map { case (d, c) =>
              targetShards.getOrElse(d, c) })
          val enc = encoding.getOrElse(name, VarEncoding())
          g.createArray(name, v.shape, chunkShape, v.dtype,
            v.attrs ++ v.encoding.filter(_._1 != "chunks"),
            dimensionNames = Some(v.dims),
            gzipLevel = enc.gzipLevel.orElse(
              // a var with its own zstd/blosc codec must not ALSO gzip
              if (enc.zstdLevel.isDefined || enc.blosc.isDefined) None
              else gzipLevel),
            shardShape = shard,
            zstdLevel = enc.zstdLevel, blosc = enc.blosc)
        }
      case Some(ad) =>
        // extend every array carrying the append dim by the new length,
        // preserving codecs (gzip/sharding), fill_value, and chunk grid —
        // rewriting any of those would misdecode all previously written
        // objects on later reads
        val added = schema.dims(ad)
        template.allVars.foreach { case (name, v) =>
          if (v.dims.contains(ad)) {
            val old = g.arrayMeta(name)
            val newShape = old.shape.zip(old.dimensionNames).map { case (s, d) =>
              if (d == ad) s + added else s }
            g.createArray(name, newShape, old.chunks, old.dtype, old.attrs,
              fillValue = old.fillValue,
              dimensionNames = Some(old.dimensionNames),
              gzipLevel = old.gzipLevel,
              shardShape = old.shardShape)
          }
        }
    }
    g
  }

  /** StoreDatasetFragments (writers.py:95-129): write one rechunked fragment
    * into its region. Coords are written only by the first merge-dim member;
    * non-concat coords only by the very first item. */
  def storeFragment(index: Index, ds: Fragment, g: ZarrGroup): Unit = {
    def isFirstItem: Boolean = index.entries.values.forall(_.value == 0)
    def isFirstInMergeDim: Boolean = index.entries.forall { case (k, v) =>
      k.operation != CombineOp.Merge || v.value == 0 }

    def regionFor(v: Variable): Vector[Int] =
      v.dims.map { dim =>
        index.findConcatDim(dim) match {
          case Some(cd) =>
            val pos = index(cd)
            require(pos.indexed, s"position for $dim must be indexed")
            pos.value
          case None => 0
        }
      }

    if (isFirstInMergeDim) {
      ds.coords.foreach { case (vname, v) =>
        val hasConcatDim = v.dims.exists(d => index.findConcatDim(d).isDefined)
        if (hasConcatDim || isFirstItem)
          g.writeRegion(vname, regionFor(v), v.data)
      }
    }
    ds.dataVars.foreach { case (vname, v) =>
      g.writeRegion(vname, regionFor(v), v.data)
    }
  }

  /** THE composite sink (transforms.py:638-725). Returns the store handle. */
  def storeToZarr(items: Dataset[(Index, Fragment)],
                  combineDims: Vector[Dimension],
                  storePath: String,
                  targetChunks: Map[String, Int] = Map.empty,
                  attrs: Attrs = Attrs.empty,
                  appendDim: Option[String] = None,
                  dynamicChunkingFn: Option[Fragment => Map[String, Int]] = None,
                  gzipLevel: Option[Int] = None,
                  targetShards: Map[String, Int] = Map.empty,
                  encoding: Map[String, VarEncoding] = Map.empty,
                  zarrFormat: Int = 3,
                  appendGuardTag: Option[String] = None)
      : ZarrGroup = {
    require(targetChunks.isEmpty || dynamicChunkingFn.isEmpty,
      "Passing both `target_chunks` and `dynamic_chunking_fn` not allowed.")
    // appendGuardTag is honored on BOTH paths: append jobs check-then-
    // ledger it, and a CREATE job (appendDim empty) ledgers it too — so a
    // replayed store-creating micro-batch (crash between sink write and
    // checkpoint commit on batch 0) finds its own tag and no-ops instead
    // of appending batch 0's data after itself (r10 fix; the r9 guard
    // only tagged appends, leaving the create batch replayable).

    val appendOffset = appendDim match {
      case Some(ad) =>
        val g = ZarrGroup(storePath)
        // Append idempotence guard (BEYOND-reference hardening; the
        // reference documents append as NOT idempotent and offers no
        // protection, transforms.py:680-684 — compat default: off).
        // Callers pass the batch's identity (typically the pattern's
        // merkle-tail hex); a tag already recorded in the store's attrs
        // means this exact batch was applied and re-running it would
        // double-append — fail BY NAME instead of corrupting the cube.
        appendGuardTag.foreach { tag =>
          val applied = g.groupAttrs.get(AppliedAppendsAttr) match {
            case Some(AttrValue.AList(v)) =>
              v.collect { case AttrValue.AStr(s) => s }
            case _ => Vector.empty
          }
          if (applied.contains(tag))
            throw new IllegalStateException(
              s"append batch '$tag' already applied to $storePath " +
                s"($AppliedAppendsAttr) — refusing the double append; " +
                "drop appendGuardTag to force the reference's unguarded " +
                "non-idempotent behavior")
        }
        val meta = g.arrayMeta(ad)
        meta.shape.head
      case None => 0
    }

    val spark = items.sparkSession
    val schema = labelled(spark, "storeToZarr: schema") {
      determineSchema(items, combineDims)
    }
    val indexed = indexItems(items, schema, appendOffset)
    val chunks = dynamicChunkingFn match {
      case Some(fn) =>
        val (template, _) = CubeSchema.toTemplate(schema)
        fn(template)
      case None => targetChunks
    }
    // fragments must align with the WRITE granularity: whole shards when
    // sharding (one executor write = one storage object, no write conflicts)
    val writeGrain = chunks ++ targetShards
    val target = prepareZarrTarget(schema, storePath, chunks, attrs, appendDim,
      gzipLevel, targetShards, encoding, zarrFormat)
    // parallel region writes from executors (local FS here; an object store
    // or shared FS in cluster deployments)
    def writeAll(it: Iterator[(Index, Fragment)]): Unit = {
      val g = ZarrGroup(storePath)
      it.foreach { case (idx, frag) => storeFragment(idx, frag, g) }
    }
    if (Rechunking.everyChunkOwned(schema, writeGrain, combineDims, appendOffset)) {
      // each target chunk's pieces come from one fragment: write them in the
      // task that split it, with no shuffle
      val split = guardedSplit(spark, Some(writeGrain), Some(schema))
      labelled(spark, "storeToZarr: write (no shuffle)") {
        indexed.foreachPartition { (it: Iterator[(Index, Fragment)]) =>
          writeAll(it.flatMap { case (idx, frag) => split(idx, frag).map(_._2) })
        }
      }
    } else labelled(spark, "storeToZarr: rechunk shuffle + write") {
      rechunk(indexed, Some(writeGrain), Some(schema))
        .foreachPartition((it: Iterator[(Index, Fragment)]) => writeAll(it))
    }
    // Record the applied batch tag AFTER the data lands (a failed job
    // leaves no tag, so a retry is not spuriously refused). KNOWN CRASH
    // WINDOW: a crash between the fragment writes above and this attrs
    // write leaves applied data with no tag, so a replay of that batch
    // double-appends — the tag write is the commit point, and making it
    // atomic with the (multi-object) fragment writes would need a store-
    // level transaction no object store offers; the window is one small
    // metadata PUT wide. The ledger keeps only the last
    // [[AppliedAppendsKeep]] tags: Structured Streaming can only redeliver
    // the most recent un-committed batch, so a bounded window is
    // sufficient AND keeps the attrs JSON (rewritten every batch) from
    // growing without bound on a long-running stream.
    appendGuardTag.foreach { tag =>
      val cur = target.groupAttrs
      val prior = cur.get(AppliedAppendsAttr) match {
        case Some(AttrValue.AList(v)) => v
        case _ => Vector.empty[AttrValue]
      }
      target.setGroupAttrs(cur +
        (AppliedAppendsAttr -> AttrValue.AList(
          (prior :+ AttrValue.AStr(tag)).takeRight(AppliedAppendsKeep))))
    }
    target
  }

  /** Store-attrs key recording applied append-batch tags (the
    * idempotence guard's ledger). */
  val AppliedAppendsAttr = "graft:applied_appends"

  /** Ledger bound: tags retained in [[AppliedAppendsAttr]]. The streaming
    * engine replays at most the latest batch, so any bound >= 1 preserves
    * the idempotence guarantee; 16 leaves slack for manual re-runs of
    * recent batches while keeping the per-batch attrs rewrite O(1). */
  val AppliedAppendsKeep = 16
}

/** Format-specific openers (openers.py:16-254), keyed by FileType with the
  * reference's engine-dispatch validation semantics (OPENER_MAP/_set_engine,
  * openers.py:40-88). Zarr directories and NetCDF3 classic files decode
  * natively (our store reader / graft.netcdf.NetCDF3); NetCDF4-HDF5 and
  * GRIB decoding has no JVM lib in this offline build and surfaces the same
  * registry errors the reference raises for a missing engine. */
object Openers {

  type Decoder = String => Fragment

  /** OPENER_MAP: FileType -> engine name (openers.py:40-47). */
  val engineMap: Map[FileType.Value, String] = Map(
    FileType.Grib -> "cfgrib",
    FileType.Netcdf3 -> "scipy",
    FileType.Netcdf4 -> "h5netcdf",
    FileType.Opendap -> "netcdf4",
    FileType.Zarr -> "zarr",
    FileType.Parquet -> "parquet-long-view",
    // the rioxarray/rasterio path for GeoTIFF rasters — the input
    // family docs/composition/styles.md:8-9 names beyond OPENER_MAP
    FileType.Tiff -> "rasterio")

  /** Registered decoders, all pure-JVM: zarr (our store reader), scipy
    * (NetCDF3 classic, graft.netcdf.NetCDF3), h5netcdf (netCDF-4/HDF5,
    * graft.hdf5.HDF5), cfgrib (GRIB2, graft.grib.Grib2) and netcdf4
    * (OPeNDAP/DAP2 over HTTP, graft.dap.Dap2) — the full OPENER_MAP
    * engine set of openers.py:40-88. */
  val decoders: Map[String, Decoder] = Map(
    // v3 store (zarr.json) or real v2 store (.zgroup) — auto-detected
    // through the StoreIO transport (so scheme'd URIs detect too), and
    // existing zarr-python v2 datasets open without conversion (chunks are
    // decoded in place through the v2 RefSet, incl. the blosc default).
    // The v2 scan walks a directory tree, which only the posix transport
    // exposes — a REMOTE v2 store gets an explicit error, not a confusing
    // missing-zarr.json failure from the v3 reader.
    "zarr" -> { url =>
      val io = graft.zarr.StoreIO.forRoot(url)
      if (io.exists(".zgroup") && !io.exists("zarr.json")) {
        if (url.contains("://"))
          throw new UnsupportedOperationException(
            s"$url is a zarr v2 store on a remote transport; v2 scanning " +
              "is filesystem-only — copy it locally (cache_url) or " +
              "convert it to a kerchunk v2 artifact first")
        graft.kerchunk.RefSet.scanZarrV2Group(url).asZarrGroup(url)
          .readFragment()
      } else ZarrGroup(url).readFragment()
    },
    "scipy" -> (url => graft.netcdf.NetCDF3.read(url)),
    "h5netcdf" -> (url => graft.hdf5.HDF5.read(url)),
    "cfgrib" -> (url => graft.grib.Grib2.read(url)),
    // plain http(s) URLs speak DAP2 (the reference's opendap usage);
    // the pydap-convention dap4:// / dap4s:// schemes pick the DAP4
    // client (graft.dap.Dap4) for newer Hyrax/TDS endpoints
    "netcdf4" -> { url =>
      if (url.startsWith("dap4://"))
        graft.dap.Dap4.read("http://" + url.stripPrefix("dap4://"))
      else if (url.startsWith("dap4s://"))
        graft.dap.Dap4.read("https://" + url.stripPrefix("dap4s://"))
      else graft.dap.Dap2.read(url)
    },
    // GeoTIFF/TIFF rasters via the pure-JVM codec (graft.tiff.Tiff):
    // rioxarray-shaped fragments — band_data(y,x)/(band,y,x), pixel-
    // center x/y coords from the affine transform, EPSG as a crs attr
    "rasterio" -> (url => graft.tiff.Tiff.read(url)))

  /** _set_engine semantics: unknown file type -> explicit error; a
    * user-supplied engine that conflicts with the registry is rejected. */
  def resolveEngine(fileType: FileType.Value,
                    userEngine: Option[String] = None): String = {
    if (fileType == FileType.Unknown && userEngine.isEmpty)
      throw new IllegalArgumentException(
        "Unable to automatically determine engine. Please set file_type or engine explicitly.")
    val registry = engineMap.get(fileType)
    (registry, userEngine) match {
      case (Some(r), Some(u)) if r != u => throw new IllegalArgumentException(
        s"Specified engine $u conflicts with file_type $fileType (expects $r).")
      case (_, Some(u)) => u
      case (Some(r), None) => r
      case (None, None) => throw new IllegalArgumentException(
        s"No engine registered for file_type $fileType.")
    }
  }

  /** openers.py:229-252: spool the remote file to executor-local tmp before
    * decoding (the GRIB requirement); cache-through via Storage.cacheFile.
    * A remote URL for a byte-range format (netcdf/hdf5/grib seek into the
    * file) is spooled even without `copyToLocal` when no cache is
    * configured — the positional decoders need a local file. Opendap URLs
    * are never copied (the protocol IS remote access). */
  def open(fileType: FileType.Value, url: String,
           copyToLocal: Boolean = false,
           cacheDir: Option[String] = None,
           secrets: Map[String, String] = Map.empty,
           maskAndScale: Boolean = true): Fragment = {
    val engine = resolveEngine(fileType)
    val decoder = decoders.getOrElse(engine,
      throw new UnsupportedOperationException(
        s"No JVM decoder available for engine=$engine in this build; " +
          "use FileType.Zarr fragments or the parquet long view."))
    val isRemote = url.startsWith("http://") || url.startsWith("https://")
    val cached = cacheDir match {
      case Some(cd) if fileType != FileType.Opendap =>
        graft.storage.Storage.cacheFile(url, cd, secrets)
      case _ if isRemote && fileType != FileType.Opendap &&
          fileType != FileType.Zarr =>
        // executor-local spool into the JVM tmpdir (openers.py:240-247);
        // cacheFile's size-skip makes repeated opens idempotent
        graft.storage.Storage.cacheFile(url,
          sys.props("java.io.tmpdir"), secrets)
      case _ => url
    }
    // an object-store path (scheme'd cache or direct s3a/hdfs input) is
    // spooled local for the positional decoders — copy_to_local over
    // fsspec paths (openers.py:229-252); zarr decodes in place through
    // its own StoreIO transport and opendap IS remote access
    val cachedIsHttp =
      cached.startsWith("http://") || cached.startsWith("https://")
    val resolvedUrl =
      if (cached.contains("://") && !cachedIsHttp &&
          fileType != FileType.Opendap && fileType != FileType.Zarr)
        graft.storage.Storage.localize(cached)
      else cached
    val frag = decoder(resolvedUrl)
    // xr.open_dataset's mask_and_scale=True default: variables carrying CF
    // packing attrs (scale_factor/add_offset/_FillValue) arrive unpacked
    if (maskAndScale) Preprocess.cfDecode(frag) else frag
  }
}
