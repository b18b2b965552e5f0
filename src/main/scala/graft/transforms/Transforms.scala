package graft.transforms

import graft.core._
import graft.core.Attrs.Attrs
import graft.combiners.SchemaCombine
import graft.patterns.{FilePattern, FileType}
import graft.rechunking.Rechunking
import graft.zarr.{ZarrGroup, ZarrStore}
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
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
  * schema reduction (one job: per-partition folds + a driver merge) →
  * broadcast schema → map(reindex) → flatMap(split) → shuffle by group key
  * → combine each group → write region — the reference's physical shape
  * minus Beam. When no target chunk gathers pieces of two fragments
  * ([[graft.rechunking.Rechunking.everyChunkOwned]], decided from the
  * schema alone), the shuffle would regroup nothing and `storeToZarr`
  * writes each piece in the task that split it: no shuffle at all.
  *
  * Scale notes: fragment payloads move through Kryo-encoded binary columns
  * and, in the rechunk, a Kryo-serialized RDD shuffle;
  * the only all-to-one step is the schema merge: at most partitions × outer
  * positions accumulators of ~1 KB each, at any combine depth. When chunks
  * are shared, the rechunk shuffle — the reference's acknowledged hotspot
  * (transforms.py:414) — moves each piece once, keyed by disjoint
  * target-chunk groups. A piece of a file-backed array (NetCDF3 opens to
  * them) moves as a byte-range reference that the writing task reads in
  * place, so such a source's bytes are read once and never shuffled; any
  * other piece shuffles each fragment byte exactly once. On either path
  * writes need no locks, because each storage object is written by
  * exactly one task.
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

  /** DetermineSchema (transforms.py:276-301) in one job: each partition
    * folds the innermost dim per outer index; the driver merges those
    * accumulators (at most partitions × outer positions) and folds the
    * outer dims (the partial/final split of Beam's CombineFn lifting). */
  def determineSchema(frags: Dataset[(Index, Fragment)],
                      combineDims: Vector[Dimension]): CubeSchema = {
    require(combineDims.nonEmpty, "combineDims must be non-empty")
    val inner = combineDims.last
    val innerIsOutermost = combineDims.size == 1
    val partials = frags.mapPartitions { it =>
      combineAlong(it.map { case (idx, f) => (idx, CubeSchema.fromFragment(f)) },
        inner, innerIsOutermost).iterator
    }(Encoders.kryo[(Index, SchemaCombine.Acc)]).collect()
    def extracted(accs: Map[Index, SchemaCombine.Acc]): Map[Index, CubeSchema] =
      accs.map { case (outer, acc) => outer -> SchemaCombine.extract(acc) }
    val combined = combineDims.init.zipWithIndex.foldRight(
        extracted(partials.groupMapReduce(_._1)(_._2)(SchemaCombine.merge))) {
      case ((dim, i), schemas) => extracted(combineAlong(schemas.iterator, dim, i == 0))
    }
    combined.valuesIterator.nextOption()
      .getOrElse(SchemaCombine.extract(SchemaCombine.zero(inner)))
  }

  /** Fold `schemas` along `dim` per outer index (the index without `dim`),
    * or into one accumulator when `dim` is the outermost combine dim. */
  private def combineAlong(schemas: Iterator[(Index, CubeSchema)], dim: Dimension,
                           outermost: Boolean): Map[Index, SchemaCombine.Acc] =
    schemas.foldLeft(Map.empty[Index, SchemaCombine.Acc]) { case (accs, item @ (idx, _)) =>
      val outer = if (outermost) Index.empty else Index(idx.entries - dim)
      accs.updated(outer,
        SchemaCombine.addInput(accs.getOrElse(outer, SchemaCombine.zero(dim)), item, dim))
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

  /** Rechunk (transforms.py:401-417): flatMap(split) → shuffle by group
    * key → combine each group. One shuffle, keyed by target-chunk group; it
    * runs whether or not the groups regroup anything (`storeToZarr` skips
    * it when they would not).
    *
    * The shuffle is an RDD shuffle with `defaultParallelism` reduce
    * partitions, sized by work like `createItems` and `scanZarrStore`, not
    * by bytes. Its records are Kryo-serialized whatever `spark.serializer`
    * says, so a piece of a file-backed array crosses it as a byte-range
    * reference of a few dozen bytes (Java serialization would load it
    * first). The reduce side sorts the deserialized pieces by group key as
    * objects, with no memory page per task, and combines one group at a
    * time, as `mapGroups` would. Combining reads a referenced piece's bytes
    * without keeping them in the piece (`NDArray.assign`), so the sorter's
    * buffer holds references and a task holds one group's bytes at a
    * time. */
  def rechunk(frags: Dataset[(Index, Fragment)],
              targetChunks: Option[Map[String, Int]],
              schema: Option[CubeSchema]): RDD[(Index, Fragment)] = {
    val sc = frags.sparkSession.sparkContext
    val split = guardedSplit(frags.sparkSession, targetChunks, schema)
    val keyed = frags.rdd.flatMap { case (idx, ds) =>
      split(idx, ds).map { case (k, v) => (Rechunking.groupKeyString(k), v) }
    }
    new ShuffledRDD[String, (Index, Fragment), (Index, Fragment)](
        keyed, new HashPartitioner(sc.defaultParallelism))
      .setKeyOrdering(Ordering.String)
      .setSerializer(new KryoSerializer(sc.getConf))
      .mapPartitions { it =>
        val pieces = it.buffered
        new Iterator[(Index, Fragment)] {
          def hasNext: Boolean = pieces.hasNext
          def next(): (Index, Fragment) = {
            val key = pieces.head._1
            val group = Vector.newBuilder[(Index, Fragment)]
            while (pieces.hasNext && pieces.head._1 == key) group += pieces.next()._2
            Rechunking.combineFragments(group.result())
          }
        }
      }
  }

  /** `Rechunking.splitFragment` with a deploy-time guard (SCALE_r6 finding
    * #1): a split fragment rides the shuffle through the kryo serializer,
    * whose write buffer is capped at `spark.kryoserializer.buffer.max`
    * (64m default) — an oversized slab used to die in an opaque
    * `KryoException: Buffer overflow` deep in the shuffle writer. Check the
    * bytes each piece's record carries (a file-backed piece carries only
    * its reference) and fail with the fragment's index, its size, and both
    * remedies instead. The shuffle-free write path keeps the same limit,
    * so a slab size valid on one path is valid on the other. */
  private def guardedSplit(spark: SparkSession,
                           targetChunks: Option[Map[String, Int]],
                           schema: Option[CubeSchema])
      : (Index, Fragment) => Iterator[(Rechunking.GroupKey, (Index, Fragment))] = {
    val bufferMax = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.kryoserializer.buffer.max", "64m"))
    (idx, ds) => Rechunking.splitFragment(idx, ds, targetChunks, schema).map {
      case kv @ (_, (pieceIdx, piece)) =>
        val est = piece.recordBytes
        if (est > bufferMax)
          throw new FragmentExceedsSerializerBufferException(pieceIdx, est, bufferMax)
        kv
    }
  }

  /** Run `body` with `label` as the description of the Spark jobs it
    * starts, then restore the caller's description. */
  private[graft] def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
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
    // at most one compressor, enforced at construction
    val compressor: Option[ZarrStore.Compressor] =
      ZarrStore.Compressor.of(gzip = gzipLevel, zstd = zstdLevel, blosc = blosc)
  }

  /** PrepareZarrTarget (transforms.py:331-379 + aggregation.py:254-281):
    * initialize the store metadata from the schema's `VarSpec`s alone
    * (driver-side; one-time; no array is built). Coordinate data is NOT
    * written here — fragments write it (coords-once rule), exactly like
    * compute=False in the reference.
    *
    * With `appendDim` the store exists and keeps its layout: every schema
    * variable carrying the dim, coords included, is resized by the batch's
    * length along it ([[ZarrGroup.resize]], the reference's `mode="a"`), and
    * nothing else in its metadata changes. The store's chunk grid, shards,
    * codecs and format win over `targetChunks`, `targetShards`, `encoding`,
    * `gzipLevel` and `zarrFormat`, which only shape a new store.
    */
  def prepareZarrTarget(schema: CubeSchema, path: String,
                        targetChunks: Map[String, Int] = Map.empty,
                        extraAttrs: Attrs = Attrs.empty,
                        appendDim: Option[String] = None,
                        gzipLevel: Option[Int] = None,
                        targetShards: Map[String, Int] = Map.empty,
                        encoding: Map[String, VarEncoding] = Map.empty,
                        zarrFormat: Int = 3): ZarrGroup = appendDim match {
    case None =>
      require(zarrFormat == 3 || targetShards.isEmpty,
        "zarr v2 has no sharding_indexed — drop targetShards or write v3")
      val g = ZarrGroup(path, zarrFormat)
      val chunksFull = CubeSchema.determineTargetChunks(schema, targetChunks)
      g.initGroup(schema.attrs ++ extraAttrs.map { case (k, v) => s"pangeo-forge:$k" -> v })
      schema.allVars.foreach { case (name, v) =>
        val chunkShape = v.dims.map(chunksFull(_))
        val shard =
          if (targetShards.isEmpty) None
          else Some(v.dims.zip(chunkShape).map { case (d, c) =>
            targetShards.getOrElse(d, c) })
        // a var's own codec replaces the store-wide gzip
        val compressor = encoding.get(name).flatMap(_.compressor)
          .orElse(gzipLevel.map(ZarrStore.Compressor.Gzip))
        g.createArray(name, ZarrStore.ArrayMeta(v.shape, chunkShape, v.dtype,
          v.attrs ++ v.encoding.filter(_._1 != "chunks"), Some(v.dims),
          compressor, shard))
      }
      g
    case Some(ad) =>
      val g = ZarrGroup(path)
      val added = schema.dims(ad)
      schema.allVars.foreach { case (name, v) =>
        if (v.dims.contains(ad)) {
          val old = g.arrayMeta(name)
          g.resize(name, old.shape.zip(old.dimensionNames).map { case (n, d) =>
            if (d == ad) n + added else n })
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

  /** THE composite sink (transforms.py:638-725). Returns the store handle.
    *
    * Fragments are split on the store's own write grain — whole shards when
    * sharded, so one executor write is one storage object — which the
    * store's arrays declare ([[ZarrGroup.dimLayout]]). A new store is
    * created from `targetChunks`/`targetShards` first, so the grain is
    * theirs. An append (`appendDim`, the reference's `mode="a"`) reads the
    * existing store's grain and its length along the dim, which is the
    * batch's offset, before any job; arrays that disagree on a dim fail
    * there by name. The appended store keeps its layout: `targetChunks`,
    * `targetShards`, `encoding`, `gzipLevel` and `zarrFormat` are ignored
    * (see [[prepareZarrTarget]]).
    *
    * `appendGuardTag` is honored on both paths: an append checks the tag
    * against the store's ledger ([[appliedAppends]]) before any job, and
    * either path records it once the data has landed — so a replayed
    * store-creating micro-batch (a crash between the sink write and the
    * checkpoint commit of batch 0) finds its own tag and no-ops instead of
    * appending batch 0's data after itself. */
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
    val existingLayout = appendDim.map { ad =>
      val g = ZarrGroup(storePath)
      // Append idempotence guard (BEYOND-reference hardening; the
      // reference documents append as NOT idempotent and offers no
      // protection, transforms.py:680-684 — compat default: off).
      // Callers pass the batch's identity (typically the pattern's
      // merkle-tail hex); a tag already recorded in the store's attrs
      // means this exact batch was applied and re-running it would
      // double-append — fail BY NAME instead of corrupting the cube.
      appendGuardTag.foreach { tag =>
        if (appliedAppends(g).contains(tag))
          throw new IllegalStateException(
            s"append batch '$tag' already applied to $storePath " +
              s"($AppliedAppendsAttr) — refusing the double append; " +
              "drop appendGuardTag to force the reference's unguarded " +
              "non-idempotent behavior")
      }
      val layout = g.dimLayout()
      require(layout.contains(ad), s"no array in $storePath carries append dim '$ad'")
      layout
    }

    val spark = items.sparkSession
    val schema = labelled(spark, "storeToZarr: schema") {
      determineSchema(items, combineDims)
    }
    val chunks = dynamicChunkingFn match {
      case Some(fn) => fn(CubeSchema.toTemplate(schema))
      case None => targetChunks
    }
    val target = prepareZarrTarget(schema, storePath, chunks, attrs, appendDim,
      gzipLevel, targetShards, encoding, zarrFormat)
    val layout = existingLayout.getOrElse(target.dimLayout(schema.allVars.keys))
    val appendOffset = appendDim.fold(0)(ad => layout(ad)._2)
    val writeGrain = layout.collect {
      case (d, (grain, _)) if schema.dims.contains(d) => d -> grain }
    val indexed = indexItems(items, schema, appendOffset)
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
      val ledger = (appliedAppends(target) :+ tag).takeRight(AppliedAppendsKeep)
      target.setGroupAttrs(target.groupAttrs +
        (AppliedAppendsAttr -> AttrValue.AList(ledger.map(AttrValue.AStr(_)))))
    }
    target
  }

  /** The append batch tags recorded in `g`'s ledger ([[AppliedAppendsAttr]]),
    * oldest first; empty when the store has none. */
  def appliedAppends(g: ZarrGroup): Vector[String] =
    g.groupAttrs.get(AppliedAppendsAttr) match {
      case Some(AttrValue.AList(v)) => v.collect { case AttrValue.AStr(s) => s }
      case _ => Vector.empty
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
  * openers.py:40-88). Every engine decodes on the JVM: Zarr directories
  * (our store reader), NetCDF3 (graft.netcdf.NetCDF3), NetCDF4/HDF5
  * (graft.hdf5.HDF5), GRIB2 (graft.grib.Grib2), OPeNDAP (graft.dap) and
  * GeoTIFF (graft.tiff.Tiff); an unknown engine or file type surfaces the
  * same registry errors the reference raises for a missing engine. */
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
    // decoded in place through the v2 RefSet, incl. the blosc default);
    // arrays are deferred, so the schema pass reads no chunk.
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
          .readFragmentRegion(Map.empty, deferred = true)
      } else ZarrGroup(url).readFragmentRegion(Map.empty, deferred = true)
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
    * file) is spooled into the JVM tmpdir when no cache is configured — the
    * positional decoders need a local file. Opendap URLs are never copied
    * (the protocol IS remote access). */
  def open(fileType: FileType.Value, url: String,
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
    val raw = decoder(resolvedUrl)
    // xr.open_dataset's mask_and_scale=True default: variables carrying CF
    // packing attrs (scale_factor/add_offset/_FillValue) arrive unpacked
    val frag = if (maskAndScale) Preprocess.cfDecode(raw) else raw
    // a spooled or localized copy lives on this executor only, so arrays
    // that would read it later (NetCDF3's file-backed rows) load now
    if (resolvedUrl != url) frag.allVars.valuesIterator.foreach(_.data.data)
    frag
  }
}
