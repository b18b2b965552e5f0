package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

/** Seeded input generators. They write the files the program reads with
  * their own code, never the program's writers, and the verifiers compare
  * outputs against the same closed forms. Every value depends only on the
  * seed and the element's coordinates. */
object Inputs {

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A uniform double in [0, 1) keyed by (seed, stream, i). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed * 0x632BE59BD9B4E019L + stream * 0x85EBCA77C2B2AE63L + i) >>> 11) *
      (1.0 / (1L << 53))

  private def writeFile(path: Path, buf: ByteBuffer): Unit = {
    Files.createDirectories(path.getParent)
    val ch = FileChannel.open(path, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try { buf.rewind(); while (buf.hasRemaining) ch.write(buf) } finally ch.close()
  }

  // ------------------------------------------------------------ zarr cube

  /** A float64 (time, y, x) cube stored as an uncompressed Zarr v3 group
    * with a `time` int64 coordinate. v[t, y, x] = a(t) + b(y) + c(x). */
  final case class Cube(seed: Long, nt: Int, ny: Int, nx: Int, chunkT: Int) {
    val a: Array[Double] = Array.tabulate(nt)(t => 1000.0 * unit(seed, 1, t))
    val b: Array[Double] = Array.tabulate(ny)(y => 10.0 * unit(seed, 2, y))
    val c: Array[Double] = Array.tabulate(nx)(x => unit(seed, 3, x))
    def value(t: Int, y: Int, x: Int): Double = a(t) + b(y) + c(x)
    def arrayBytes: Long = nt.toLong * ny * nx * 8 + nt * 8L
  }

  private def arrayDoc(shape: Seq[Int], chunks: Seq[Int], dtype: String,
                       dims: Seq[String], endian: String = "little"): String = {
    def arr(v: Seq[Any]) = v.map {
      case s: String => "\"" + s + "\""
      case o => o.toString
    }.mkString("[", ",", "]")
    s"""{"zarr_format":3,"node_type":"array","shape":${arr(shape)},""" +
      s""""data_type":"$dtype","chunk_grid":{"name":"regular","configuration":""" +
      s"""{"chunk_shape":${arr(chunks)}}},"chunk_key_encoding":{"name":"default",""" +
      s""""configuration":{"separator":"/"}},"fill_value":0,"codecs":[{"name":""" +
      s""""bytes","configuration":{"endian":"$endian"}}],"attributes":{},""" +
      s""""dimension_names":${arr(dims)}}"""
  }

  def writeCube(root: Path, cube: Cube): Unit = {
    import cube._
    writeFile(root.resolve("zarr.json"), ByteBuffer.wrap(
      """{"zarr_format":3,"node_type":"group","attributes":{}}""".getBytes(UTF_8)))
    writeFile(root.resolve("time/zarr.json"), ByteBuffer.wrap(
      arrayDoc(Seq(nt), Seq(nt), "int64", Seq("time")).getBytes(UTF_8)))
    val tb = ByteBuffer.allocate(nt * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until nt).foreach(t => tb.putLong(t.toLong))
    writeFile(root.resolve("time/c/0"), tb)
    writeFile(root.resolve("v/zarr.json"), ByteBuffer.wrap(
      arrayDoc(Seq(nt, ny, nx), Seq(chunkT, ny, nx), "float64",
        Seq("time", "y", "x")).getBytes(UTF_8)))
    val buf = ByteBuffer.allocate(chunkT * ny * nx * 8).order(ByteOrder.LITTLE_ENDIAN)
    (0 until nt by chunkT).foreach { t0 =>
      buf.clear()
      for (t <- t0 until t0 + chunkT; y <- 0 until ny; x <- 0 until nx)
        buf.putDouble(value(t, y, x))
      writeFile(root.resolve(s"v/c/${t0 / chunkT}/0/0"), buf)
    }
  }

  // ------------------------------------------------------------ netcdf3

  /** Smooth seeded float32 fields: one per variable, over (time, y, x).
    * v = A sin(2pi(fy y/ny + wt t + p)) + B cos(2pi(fx x/nx + wt2 t + q)) + C t */
  final case class Field(seed: Long, variable: Int, ny: Int, nx: Int) {
    private def u(k: Int) = unit(seed, 100 + variable, k)
    private val (amp, bmp, cs) = (5 + 10 * u(0), 2 + 5 * u(1), 0.01 * u(2))
    private val (fy, fx) = (1 + 3 * u(3), 1 + 3 * u(4))
    private val (wt, wt2, p, q) = (0.01 * u(5), 0.02 * u(6), u(7), u(8))
    private val Tau = 2 * math.Pi

    /** One time step as a row-major (y, x) array. */
    def step(t: Int): Array[Float] = {
      val sy = Array.tabulate(ny)(y => amp * math.sin(Tau * (fy * y / ny + wt * t + p)))
      val cx = Array.tabulate(nx)(x => bmp * math.cos(Tau * (fx * x / nx + wt2 * t + q)) + cs * t)
      val out = new Array[Float](ny * nx)
      var i = 0
      var y = 0
      while (y < ny) {
        var x = 0
        while (x < nx) { out(i) = (sy(y) + cx(x)).toFloat; i += 1; x += 1 }
        y += 1
      }
      out
    }
  }

  /** The y and x coordinate values shared by every NetCDF input. */
  def coord(n: Int, scale: Double): Array[Double] = Array.tabulate(n)(_ * scale)

  /** One NetCDF3 classic file with fixed dims (time, y, x): int32 `time`,
    * float64 `y` and `x`, and each named float32 variable over
    * (time, y, x). Each variable's data is one contiguous big-endian block. */
  def writeNetcdf3(path: Path, t0: Int, nt: Int, ny: Int, nx: Int,
                   vars: Seq[(String, Field)]): Unit = {
    val head = new java.io.ByteArrayOutputStream()
    val h = new java.io.DataOutputStream(head)
    def name(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      h.writeInt(b.length); h.write(b); h.write(new Array[Byte]((4 - b.length % 4) % 4))
    }
    val (ncDim, ncVar) = (10, 11)
    val (ncInt, ncFloat, ncDouble) = (4, 5, 6)
    val dims = Seq("time" -> nt, "y" -> ny, "x" -> nx)
    // (name, dim ids, type, bytes)
    val layout: Seq[(String, Seq[Int], Int, Int)] =
      Seq(("time", Seq(0), ncInt, nt * 4), ("y", Seq(1), ncDouble, ny * 8),
        ("x", Seq(2), ncDouble, nx * 8)) ++
        vars.map { case (v, _) => (v, Seq(0, 1, 2), ncFloat, nt * ny * nx * 4) }
    def pad4(n: Int) = (n + 3) / 4 * 4
    h.write("CDF".getBytes(UTF_8)); h.writeByte(1)
    h.writeInt(0) // numrecs
    h.writeInt(ncDim); h.writeInt(dims.size)
    dims.foreach { case (d, n) => name(d); h.writeInt(n) }
    h.writeInt(0); h.writeInt(0) // no global attributes
    h.writeInt(ncVar); h.writeInt(layout.size)
    // the header size does not depend on the begin offsets it holds
    val varHeader = layout.map { case (v, _, _, _) =>
      4 + pad4(v.getBytes(UTF_8).length) + 4 } .sum +
      layout.map { case (_, ids, _, _) => ids.size * 4 + 8 + 4 + 4 + 4 }.sum
    var begin = head.size + varHeader
    val begins = layout.map { case (_, _, _, bytes) =>
      val b = begin; begin += pad4(bytes); b }
    layout.zip(begins).foreach { case ((v, ids, tpe, bytes), b) =>
      name(v); h.writeInt(ids.size); ids.foreach(h.writeInt)
      h.writeInt(0); h.writeInt(0) // no attributes
      h.writeInt(tpe); h.writeInt(pad4(bytes)); h.writeInt(b)
    }
    h.flush()
    val buf = ByteBuffer.allocate(begin).order(ByteOrder.BIG_ENDIAN)
    buf.put(head.toByteArray)
    require(buf.position() == begins.head, "netcdf3 header size mismatch")
    (0 until nt).foreach(t => buf.putInt(t0 + t))
    coord(ny, 0.5).foreach(buf.putDouble)
    coord(nx, 0.25).foreach(buf.putDouble)
    vars.zip(begins.drop(3)).foreach { case ((_, f), b) =>
      buf.position(b)
      (0 until nt).foreach(t => f.step(t0 + t).foreach(buf.putFloat))
    }
    writeFile(path, buf)
  }

  /** sha256 over every file under `root`: relative path and contents. */
  def fingerprint(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(root).filter(Files.isRegularFile(_))
      .toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Total size in bytes and count of the regular files under `root`. */
  def treeSize(root: Path): (Long, Int) = {
    if (!Files.exists(root)) return (0L, 0)
    val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray
    (files.map(f => Files.size(f.asInstanceOf[Path])).sum, files.length)
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
}
