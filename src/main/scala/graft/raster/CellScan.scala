package graft.raster

import java.nio.ByteBuffer

import scala.reflect.ClassTag

import graft.geo.Wkb
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The raster cell scan shared by [[RasterPipeline.fromTileStore]]
  * (tiles), [[Tiff.cells]] (strips) and [[Zarr.cells]] (chunks): a
  * raster read as a scan operand (Raptor, VLDB 2019). The units are the
  * input partitions, so a read is one job with no exchange, and each
  * partition writes its cells straight into catalyst rows ([[CellRows]]):
  * no tuple, encoder or per-cell WKB array.
  */
private[raster] object CellScan {

  /** `units` dealt round-robin, in the order given, into
    * min(units, defaultParallelism) input partitions (at least one), so
    * neighbouring units, which tend to be alike in load, run apart.
    */
  def partitions[U: ClassTag](spark: SparkSession, units: Seq[U]): RDD[U] = {
    val us = units.toIndexedSeq
    val n = math.max(1, math.min(us.size, spark.sparkContext.defaultParallelism))
    val dealt = Seq.tabulate(n)(p => Range(p, us.size, n).map(us))
    spark.sparkContext.parallelize(dealt, n).flatMap(identity)
  }

  /** A frame of `schema` whose rows `read` writes from each partition's
    * units ([[partitions]]).
    */
  def frame[U: ClassTag](spark: SparkSession, units: Seq[U], schema: StructType)(
      read: Iterator[U] => Iterator[InternalRow]): DataFrame =
    Bridge.internalFrame(spark, partitions(spark, units).mapPartitions(read), schema)
}

/** One partition's row writer for a [[CellScan]]: every cell is written
  * into the same reused `UnsafeRow` ([[row]]), valid until the next one,
  * its box WKB built in one reused buffer ([[box]]).
  */
private[raster] final class CellRows(fields: Int) {
  val row = new UnsafeRowWriter(fields, 128)
  private val wkb = new Array[Byte](93)
  private val wkbBuf = ByteBuffer.wrap(wkb)

  /** Field `ordinal` set to `Wkb.boxWkb` of the box x in
    * [minx, minx + cellX], y in [maxy - cellY, maxy].
    */
  def box(ordinal: Int, minx: Double, maxy: Double, cellX: Double, cellY: Double): Unit = {
    val miny = maxy - cellY
    val maxx = minx + cellX
    row.write(ordinal,
      if (Wkb.putBox(wkbBuf, minx, miny, maxx, maxy)) wkb else Wkb.boxWkb(minx, miny, maxx, maxy))
  }

  /** The rows of cells 0 until `n`: `write(k)` fills [[row]] for cell k,
    * or returns false to drop it.
    */
  def rows(n: Int)(write: Int => Boolean): Iterator[InternalRow] = new Iterator[InternalRow] {
    private var k = 0
    private var ready = false

    def hasNext: Boolean = {
      while (!ready && k < n) {
        row.reset()
        row.zeroOutNullBytes()
        ready = write(k)
        k += 1
      }
      ready
    }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      ready = false
      row.getRow
    }
  }
}
