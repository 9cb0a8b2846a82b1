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
  def boxWkb(minx: Double, miny: Double, maxx: Double, maxy: Double): Array[Byte] =
    if (!(minx < maxx && miny < maxy)) write(box(minx, miny, maxx, maxy))
    else {
      val b = java.nio.ByteBuffer.allocate(93) // big-endian
      b.put(0.toByte).putInt(3).putInt(1).putInt(5)
      def xy(x: Double, y: Double): Unit = {
        b.putLong(java.lang.Double.doubleToLongBits(x))
        b.putLong(java.lang.Double.doubleToLongBits(y))
      }
      xy(minx, miny); xy(minx, maxy); xy(maxx, maxy); xy(maxx, miny); xy(minx, miny)
      b.array()
    }
}
