package graft.zarr

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Storage transport for a Zarr store root. Keys are store-relative paths
  * ("zarr.json", "foo/c/0/1"). Two transports:
  *
  *   - [[PosixIO]] — java.nio over a local/shared filesystem path
  *   - [[HadoopIO]] — org.apache.hadoop.fs.FileSystem for any scheme'd
  *     URI (file://, hdfs://, s3a://, ...): each chunk write is one
  *     `create(overwrite)` — the object-PUT shape — and shard reads use
  *     positioned range reads, the range-GET shape. On a 1000-executor
  *     cluster this is the transport the store actually runs on.
  *
  * Selected by [[StoreIO.forRoot]]: URIs with a scheme route to Hadoop,
  * bare paths to posix. Instances are created per use site (executors
  * construct their own — nothing here is serialized).
  */
trait StoreIO {
  def write(key: String, bytes: Array[Byte]): Unit
  def read(key: String): Array[Byte]
  /** Streaming read of one object — the block-copy path for payloads
    * that must never be buffered whole (Storage.localize spooling a
    * multi-GB cached file executor-local). Default wraps [[read]];
    * the file-backed transports stream natively. */
  def openRead(key: String): java.io.InputStream =
    new java.io.ByteArrayInputStream(read(key))
  /** Streaming write — the object appears atomically when the stream
    * closes (one PUT). Default buffers then delegates to [[write]];
    * the file-backed transports stream natively (a production object
    * store would multipart-upload here). */
  def openWrite(key: String): java.io.OutputStream = {
    val self = this
    new java.io.ByteArrayOutputStream() {
      override def close(): Unit = { super.close(); self.write(key, this.toByteArray) }
    }
  }
  def readRange(key: String, pos: Long, len: Int): Array[Byte]
  /** Multiple ranges of one object through a SINGLE open handle — the
    * shard reader's per-chunk fetches (one open per shard, not per chunk). */
  def readRanges(key: String, ranges: Seq[(Long, Int)]): Seq[Array[Byte]]
  /** Last `len` bytes through one open handle (size lookup included) —
    * the shard index fetch, one suffix range-GET. */
  def readTail(key: String, len: Int): Array[Byte]
  def size(key: String): Long
  def exists(key: String): Boolean
  /** Immediate child directories that contain a zarr.json (array dirs). */
  def arrayDirs(): Vector[String]
  /** Recursively delete one store-relative subtree (chunk rewrites). */
  def deleteRecursive(key: String): Unit
}

object StoreIO {
  def forRoot(root: String): StoreIO =
    if (root.contains("://")) new HadoopIO(root) else new PosixIO(root)
}

/** Read-only transport over an in-memory key map — the virtual-store
  * (kerchunk RefSet) backend: metadata keys resolve inline, chunk keys
  * range-read the original files in place. Writes are rejected; a virtual
  * store is materialized (RefSet.materialize) before any mutation. */
final class MapIO(entries: Map[String, MapIO.Entry]) extends StoreIO {
  private def e(key: String): MapIO.Entry = entries.getOrElse(key,
    throw new java.util.NoSuchElementException(s"virtual store has no key $key"))
  def write(key: String, bytes: Array[Byte]): Unit =
    throw new UnsupportedOperationException(
      "virtual (refs-backed) stores are read-only; materialize first")
  def read(key: String): Array[Byte] = e(key).all()
  def readRange(key: String, pos: Long, len: Int): Array[Byte] = e(key).at(pos, len)
  def readRanges(key: String, ranges: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val en = e(key)
    ranges.map { case (pos, len) => en.at(pos, len) }
  }
  def readTail(key: String, len: Int): Array[Byte] = {
    val en = e(key)
    en.at(en.size - len, len)
  }
  def size(key: String): Long = e(key).size
  def exists(key: String): Boolean = entries.contains(key)
  def arrayDirs(): Vector[String] = entries.keys.collect {
    case k if k.endsWith("/zarr.json") && k.count(_ == '/') == 1 =>
      k.stripSuffix("/zarr.json")
    case k if k.endsWith("/.zarray") && k.count(_ == '/') == 1 =>
      k.stripSuffix("/.zarray")
  }.toVector.sorted
  def deleteRecursive(key: String): Unit = write(key, Array.emptyByteArray)
}

object MapIO {
  /** One key's payload: total size, ranged read, full read. */
  final case class Entry(size: Long, at: (Long, Int) => Array[Byte],
                         all: () => Array[Byte])
}

final class PosixIO(root: String) extends StoreIO {
  private def p(key: String) = Paths.get(root, key.split('/').toSeq: _*)

  /** `path`, after creating its parent unless it is already a directory:
    * on an existing parent, `createDirectories` still issues a failing
    * mkdir and builds an exception, once per chunk. Racing writers stay
    * safe, as `createDirectories` accepts a directory that appears. */
  private def withParent(path: Path): Path = {
    val parent = path.getParent
    if (parent != null && !Files.isDirectory(parent)) Files.createDirectories(parent)
    path
  }

  /** Writes go to a hidden temp sibling, unique per writer, that one atomic
    * rename publishes: a reader sees the old object or the new one, never a
    * torn one, and racing writers of one key never share a file. */
  private def tempFor(path: Path): Path =
    path.resolveSibling(s".${path.getFileName}.${java.util.UUID.randomUUID()}.tmp")

  def write(key: String, bytes: Array[Byte]): Unit = {
    val path = withParent(p(key))
    val tmp = tempFor(path)
    try Files.move(Files.write(tmp, bytes), path, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
  }
  def read(key: String): Array[Byte] = Files.readAllBytes(p(key))
  override def openRead(key: String): java.io.InputStream =
    Files.newInputStream(p(key))
  override def openWrite(key: String): java.io.OutputStream = {
    val path = withParent(p(key))
    val tmp = tempFor(path)
    new java.io.FilterOutputStream(Files.newOutputStream(tmp)) {
      private var open = true
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = if (open) {
        open = false
        super.close()
        Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }
  private def readAt(ch: java.nio.channels.FileChannel, key: String,
                     pos: Long, len: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(len)
    var off = 0L
    while (buf.hasRemaining) {
      val n = ch.read(buf, pos + off)
      if (n < 0) throw new java.io.EOFException(s"$key: EOF at ${pos + off}")
      off += n
    }
    buf.array()
  }
  def readRange(key: String, pos: Long, len: Int): Array[Byte] = {
    val ch = java.nio.channels.FileChannel.open(p(key), StandardOpenOption.READ)
    try readAt(ch, key, pos, len) finally ch.close()
  }
  def readRanges(key: String, ranges: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val ch = java.nio.channels.FileChannel.open(p(key), StandardOpenOption.READ)
    try ranges.map { case (pos, len) => readAt(ch, key, pos, len) }
    finally ch.close()
  }
  def readTail(key: String, len: Int): Array[Byte] = {
    val ch = java.nio.channels.FileChannel.open(p(key), StandardOpenOption.READ)
    try readAt(ch, key, ch.size() - len, len) finally ch.close()
  }
  def size(key: String): Long = Files.size(p(key))
  def exists(key: String): Boolean = Files.exists(p(key))
  def arrayDirs(): Vector[String] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Vector.empty
    val st = Files.list(dir)
    try st.iterator().asScala
      .filter(d => Files.isDirectory(d) &&
        (Files.exists(d.resolve("zarr.json")) ||   // zarr v3 array
         Files.exists(d.resolve(".zarray"))))      // zarr v2 array
      .map(_.getFileName.toString).toVector.sorted
    finally st.close()
  }
  def deleteRecursive(key: String): Unit = {
    val dir = p(key)
    if (Files.exists(dir)) {
      val st = Files.walk(dir)
      val paths = try st.iterator().asScala.toVector finally st.close()
      paths.reverse.foreach(Files.delete)
    }
  }
}

final class HadoopIO(root: String) extends StoreIO {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}
  private val rootPath = new HPath(root)
  private val fs: FileSystem = {
    // a bare Configuration would drop spark.hadoop.* settings (the standard
    // way clusters pass fs.s3a.* credentials/endpoints); fold them in from
    // the local SparkEnv, which exists on both driver and executors
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(org.apache.spark.SparkEnv.get).foreach { env =>
      env.conf.getAll.foreach { case (k, v) =>
        if (k.startsWith("spark.hadoop."))
          conf.set(k.stripPrefix("spark.hadoop."), v)
      }
    }
    rootPath.getFileSystem(conf)
  }
  private def p(key: String) = new HPath(rootPath, key)

  def write(key: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(p(key), true) // one object PUT per storage object
    try out.write(bytes) finally out.close()
  }
  def read(key: String): Array[Byte] = {
    val in = fs.open(p(key))
    try in.readAllBytes() finally in.close()
  }
  override def openRead(key: String): java.io.InputStream = fs.open(p(key))
  override def openWrite(key: String): java.io.OutputStream =
    fs.create(p(key), true) // PUT-on-close
  def readRange(key: String, pos: Long, len: Int): Array[Byte] = {
    val in = fs.open(p(key))
    try {
      val buf = new Array[Byte](len)
      in.readFully(pos, buf) // positioned read — the range-GET analog
      buf
    } finally in.close()
  }
  def readRanges(key: String, ranges: Seq[(Long, Int)]): Seq[Array[Byte]] = {
    val in = fs.open(p(key))
    try ranges.map { case (pos, len) =>
      val buf = new Array[Byte](len)
      in.readFully(pos, buf)
      buf
    } finally in.close()
  }
  def readTail(key: String, len: Int): Array[Byte] = {
    val sz = fs.getFileStatus(p(key)).getLen
    val in = fs.open(p(key))
    try {
      val buf = new Array[Byte](len)
      in.readFully(sz - len, buf)
      buf
    } finally in.close()
  }
  def size(key: String): Long = fs.getFileStatus(p(key)).getLen
  def exists(key: String): Boolean = fs.exists(p(key))
  def arrayDirs(): Vector[String] =
    if (!fs.exists(rootPath)) Vector.empty
    else fs.listStatus(rootPath).toVector
      .filter(st => st.isDirectory &&
        (fs.exists(new HPath(st.getPath, "zarr.json")) ||
         fs.exists(new HPath(st.getPath, ".zarray"))))
      .map(_.getPath.getName).sorted
  def deleteRecursive(key: String): Unit = {
    val path = p(key)
    if (fs.exists(path)) fs.delete(path, true)
  }
}
