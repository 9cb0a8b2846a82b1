package graft.geo

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

/** WKB/WKT codec helpers over JTS (jts-core-1.20.0 ships in
  * /opt/spark/jars). Geometries are carried through Spark plans as
  * `BinaryType` WKB columns, matching the reference's geometry
  * representation (`tests/fixtures/dataframe/to_zarr.py:65`,
  * `_dataframe.py:628`).
  *
  * JTS reader/writer instances are not thread-safe — keep them
  * thread-local because expressions evaluate on many executor threads.
  */
object Wkb {
  val factory = new GeometryFactory(new PrecisionModel(), 27700)

  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wkbWriter = ThreadLocal.withInitial[WKBWriter](() => new WKBWriter())
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => new WKTReader(factory))
  private val wktWriter = ThreadLocal.withInitial[WKTWriter](() => new WKTWriter())

  def read(bytes: Array[Byte]): Geometry = wkbReader.get().read(bytes)
  def write(g: Geometry): Array[Byte] = wkbWriter.get().write(g)
  def readWkt(s: String): Geometry = wktReader.get().read(s)
  def writeWkt(g: Geometry): String = wktWriter.get().write(g)

  def point(x: Double, y: Double): Geometry =
    factory.createPoint(new Coordinate(x, y))

  /** Axis-aligned box polygon (shapely.geometry.box equivalent). */
  def box(minx: Double, miny: Double, maxx: Double, maxy: Double): Geometry =
    factory.toGeometry(new Envelope(minx, maxx, miny, maxy))

  /** `write(box(minx, miny, maxx, maxy))` encoded directly, with no JTS
    * polygon or writer per call: the 93-byte big-endian WKB polygon
    * (type 3, one ring of five points in `toGeometry(Envelope)` order).
    * Any other extent (reversed, zero-width or NaN bounds, which JTS
    * swaps or turns into a point or a line) still goes through JTS, so
    * the bytes always match.
    */
  def boxWkb(minx: Double, miny: Double, maxx: Double, maxy: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(93)
    if (putBox(b, minx, miny, maxx, maxy)) b.array() else write(box(minx, miny, maxx, maxy))
  }

  /** Writes [[boxWkb]]'s 93 bytes into big-endian `b` from index 0 when
    * minx < maxx and miny < maxy, so a caller can reuse one buffer;
    * false, writing nothing, for any other extent.
    */
  def putBox(b: java.nio.ByteBuffer, minx: Double, miny: Double, maxx: Double,
      maxy: Double): Boolean = (minx < maxx && miny < maxy) && {
    b.put(0, 0.toByte).putInt(1, 3).putInt(5, 1).putInt(9, 5)
    putXY(b, 13, minx, miny); putXY(b, 29, minx, maxy); putXY(b, 45, maxx, maxy)
    putXY(b, 61, maxx, miny); putXY(b, 77, minx, miny)
    true
  }

  private def putXY(b: java.nio.ByteBuffer, at: Int, x: Double, y: Double): Unit = {
    b.putLong(at, java.lang.Double.doubleToLongBits(x))
    b.putLong(at + 8, java.lang.Double.doubleToLongBits(y))
  }
}
