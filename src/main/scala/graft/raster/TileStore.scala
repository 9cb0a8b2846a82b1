package graft.raster

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.{ByteBuffer, ByteOrder}

/** Column spec in a tile store: raster dtype (reference ladder,
  * Constants.DtypeOrder), nodata sentinel, optional categorical lookup
  * string (stamped into attrs exactly like the reference's Zarr attrs,
  * `_dataframe.py:477-486`).
  */
case class ColumnSpec(name: String, dtype: String, nodata: Double,
    lookup: Option[String] = None)

object TileStore {
  /** JSON has no NaN literal; float nodata sentinels round-trip as the
    * string "NaN" (reference float dtypes use NaN nodata,
    * `_dataframe.py:217-219`).
    */
  object NanSerializer extends org.json4s.CustomSerializer[Double](_ => (
    {
      case org.json4s.JString("NaN") => Double.NaN
      case org.json4s.JDouble(d) => d
      case org.json4s.JInt(i) => i.toDouble
      case org.json4s.JLong(l) => l.toDouble
    },
    { case d: Double if d.isNaN => org.json4s.JString("NaN") }
  ))
}

/** Store header — the "skeleton" (reference `_create_dummy_dataset`,
  * `_dataframe.py:489-576`): canvas geometry + per-column dtype/nodata +
  * metadata/lineage attrs, written once on the driver before any tile.
  */
case class StoreHeader(
    crs: String,
    cellSize: Double,
    canvasMinX: Double, canvasMinY: Double,
    canvasMaxX: Double, canvasMaxY: Double,
    tileSize: Double,
    columns: Seq[ColumnSpec],
    attrs: Map[String, String])

/** Zarr-sink equivalent over a plain directory (no Zarr jar in-image):
  * `_store.json` header + one little-endian binary blob per (tile,
  * column) region, compressed as a single one-shot Zstd frame (no
  * finalizable stream per region; see [[writeRegion]]) and named by grid
  * ref so concurrent executor writes land in disjoint files — the same
  * disjoint-region property the reference
  * relies on for `to_zarr(region=...)` (`_dataframe.py:579-673`).
  * [[Zarr.export]] re-encodes a store as a spec-level zarr v2 group
  * (the reference's actual on-disk format) when bit-format parity with
  * `to_zarr` output is needed.
  */
class TileStore(val path: String) {
  private val headerPath = Paths.get(path, "_store.json")
  implicit private val fmts: org.json4s.Formats =
    org.json4s.DefaultFormats + TileStore.NanSerializer

  def exists: Boolean = Files.exists(headerPath)

  def header: StoreHeader =
    org.json4s.jackson.Serialization.read[StoreHeader](
      new String(Files.readAllBytes(headerPath), UTF_8))

  /** K1 + K4: skeleton init with overwrite guard (reference
    * `_warn_zarr_overwrite` `_dataframe.py:692-710`).
    */
  def init(h: StoreHeader, overwrite: Boolean): Unit = {
    if (exists && !overwrite)
      throw new IllegalStateException(
        s"TileStore already exists at $path and overwrite=false")
    if (exists)
      System.err.println(s"[TileStore] warning: overwriting existing store at $path")
    Files.createDirectories(Paths.get(path))
    val json = org.json4s.jackson.Serialization.write(h)
    val tmp = Files.createTempFile(Paths.get(path), "hdr", ".json")
    Files.write(tmp, json.getBytes(UTF_8))
    Files.move(tmp, headerPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** K2: executor-side region write of one tile's array for one column.
    * Idempotent (fixed file per (tile, column)) — safe to replay on
    * resume. Returns how many cells are not `nodata` (NaN-safe), counted
    * by the encode loop itself; the default NaN counts every non-NaN cell.
    *
    * Regions are Zstd-compressed (like Zarr's compressed chunks): sparse
    * tiles — the common case at web scale, where most of a 10 km tile is
    * nodata — shrink ~100x on disk. Zstd level 1 measured 2.2x faster to
    * write, 1.5x faster to read and 28% smaller than the round-1
    * Deflater(BEST_SPEED) on a 2%-dense uint8 region (BENCH.md). Each
    * region is ONE frame from one-shot `Zstd.compress` (the frame records
    * its content size), and reads decode it with one-shot
    * `Zstd.decompress`. The finalizable `ZstdOutputStream`/
    * `ZstdInputStream` per region stayed reachable until a finalizer ran;
    * with them, the raster_tiles benchmark (240 regions written and read
    * back per pass) measured 117-126 MB live heap against 86-88 MB
    * without. Reads sniff the frame magic, so streamed Zstd frames and
    * round-1 DEFLATE stores stay readable.
    */
  def writeRegion(tileRef: String, column: String, dtype: String,
      data: Array[Double], nodata: Double = Double.NaN): Long = {
    val (raw, burned) = Samples.encode(data, dtype, nodata)
    writeRegionBytes(tileRef, column, raw)
    burned
  }

  /** [[writeRegion]] of a region already in its stored little-endian
    * layout (`raw` is not kept), the burn path's write: one-shot Zstd,
    * a temp file, an atomic move.
    */
  private[raster] def writeRegionBytes(tileRef: String, column: String,
      raw: Array[Byte]): Unit = {
    val frame = com.github.luben.zstd.Zstd.compress(raw, 1)
    val dir = Paths.get(path, s"tile=$tileRef")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, column, ".tmp")
    try {
      Files.write(tmp, frame)
      Files.move(tmp, dir.resolve(s"$column.bin"), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** One region's decompressed little-endian bytes. */
  private def regionBytes(tileRef: String, column: String): ByteBuffer = {
    val raw = Files.readAllBytes(Paths.get(path, s"tile=$tileRef", s"$column.bin"))
    // Frame sniff: Zstd magic 28 B5 2F FD; anything else is a round-1
    // DEFLATE region.
    val isZstd = raw.length >= 4 && raw(0) == 0x28.toByte && raw(1) == 0xB5.toByte &&
      raw(2) == 0x2F.toByte && raw(3) == 0xFD.toByte
    // A one-shot frame records its content size and decodes in one call;
    // streamed frames and DEFLATE regions decode through a stream.
    val size = if (isZstd) com.github.luben.zstd.Zstd.getFrameContentSize(raw) else -1L
    val bytes =
      if (size >= 0 && size <= Int.MaxValue) com.github.luben.zstd.Zstd.decompress(raw, size.toInt)
      else {
        val src = new java.io.ByteArrayInputStream(raw)
        val in =
          if (isZstd) new com.github.luben.zstd.ZstdInputStreamNoFinalizer(src)
          else new java.util.zip.InflaterInputStream(src)
        try in.readAllBytes() finally in.close()
      }
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** The full grid of one region, nodata cells included. */
  def readRegion(tileRef: String, column: String, dtype: String): Array[Double] = {
    val bb = regionBytes(tileRef, column)
    Samples.decode(bb, dtype, bb.capacity / Samples.bytesPer(dtype))
  }

  /** Only the non-nodata cells (NaN-safe) of one region of `cells` cells,
    * as parallel index/value arrays — the read-back path, whose cost
    * follows the burned cells rather than the tile area. Fails, naming
    * the tile, when the region does not decode to exactly `cells` cells.
    */
  def readCells(tileRef: String, column: String, dtype: String, nodata: Double,
      cells: Int): SparseCells = {
    val bb = regionBytes(tileRef, column)
    val expected = cells.toLong * Samples.bytesPer(dtype)
    if (bb.capacity != expected)
      throw new IllegalStateException(s"tile $tileRef: region '$column' decodes to " +
        s"${bb.capacity} bytes, expected $expected ($cells $dtype cells)")
    Samples.nonNodata(bb, dtype, cells, nodata)
  }

  /** Written tile refs (for resume diffing + canvas assembly). */
  def tiles(): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.list(p).iterator().asScala.toSeq
        .map(_.getFileName.toString)
        .filter(_.startsWith("tile="))
        .map(_.stripPrefix("tile="))
        .sorted
    }
  }

  /** Tiles whose every listed column region is already written — the
    * resume set (tile writes are atomic + idempotent, so anything not
    * complete is simply redone).
    */
  def completeTiles(columns: Seq[String]): Seq[String] =
    tiles().filter { ref =>
      columns.forall(c =>
        Files.exists(Paths.get(path, s"tile=$ref", s"$c.bin")))
    }

  /** Assemble the full canvas for a column — nodata-filled where tiles
    * were never written (the skeleton semantics). Test/analysis helper;
    * row 0 = canvas top.
    */
  def assembleCanvas(column: String): Array[Array[Double]] = {
    val h = header
    val spec = h.columns.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column"))
    val w = math.round((h.canvasMaxX - h.canvasMinX) / h.cellSize).toInt
    val ht = math.round((h.canvasMaxY - h.canvasMinY) / h.cellSize).toInt
    val canvas = Array.fill(ht, w)(spec.nodata)
    val tilesPerEdge = math.round(h.tileSize / h.cellSize).toInt
    tiles().foreach { ref =>
      val (minx, miny, maxx, maxy) = graft.index.Bng.bounds(ref)
      val (r0, _, c0, _) = Rasterize.regionSlice(minx, miny, maxx, maxy,
        h.canvasMaxY, h.cellSize)
      val data = readRegion(ref, column, spec.dtype)
      var r = 0
      while (r < tilesPerEdge) {
        var c = 0
        while (c < tilesPerEdge) {
          val rr = r0 + r; val cc = c0 + c
          if (rr >= 0 && rr < ht && cc >= 0 && cc < w)
            canvas(rr)(cc) = data(r * tilesPerEdge + c)
          c += 1
        }
        r += 1
      }
    }
    canvas
  }
}
