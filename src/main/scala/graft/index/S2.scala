package graft.index

/** S2 cell ids from scratch, per the published S2 geometry specification:
  * lat/lng -> unit sphere -> cube face (u,v) -> quadratic (s,t) ->
  * leaf (i,j) -> 64-bit Hilbert-curve cell id. Bit-compatible with the
  * reference S2 libraries (same face numbering, same quadratic projection,
  * same lookup-table Hilbert traversal).
  */
object S2 {
  val MaxLevel = 30
  private val LookupBits = 4
  private val SwapMask = 1
  private val InvertMask = 2

  // Hilbert traversal order per orientation (published S2 constants).
  private val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical
    Array(0, 2, 3, 1), // swap
    Array(3, 2, 0, 1), // invert
    Array(3, 1, 0, 2)) // swap + invert
  private val posToOrientation = Array(SwapMask, 0, 0, InvertMask | SwapMask)

  private val lookupPos = new Array[Int](1 << (2 * LookupBits + 2))
  private val lookupIJ = new Array[Int](1 << (2 * LookupBits + 2))

  private def initLookupCell(level: Int, i: Int, j: Int, origOrientation: Int,
      pos: Int, orientation: Int): Unit = {
    if (level == LookupBits) {
      val ij = (i << LookupBits) + j
      lookupPos((ij << 2) + origOrientation) = (pos << 2) + orientation
      lookupIJ((pos << 2) + origOrientation) = (ij << 2) + orientation
    } else {
      val r = posToIJ(orientation)
      var subPos = 0
      while (subPos < 4) {
        val ij = r(subPos)
        initLookupCell(level + 1, (i << 1) + (ij >> 1), (j << 1) + (ij & 1),
          origOrientation, (pos << 2) + subPos,
          orientation ^ posToOrientation(subPos))
        subPos += 1
      }
    }
  }
  initLookupCell(0, 0, 0, 0, 0, 0)
  initLookupCell(0, 0, 0, SwapMask, 0, SwapMask)
  initLookupCell(0, 0, 0, InvertMask, 0, InvertMask)
  initLookupCell(0, 0, 0, SwapMask | InvertMask, 0, SwapMask | InvertMask)

  /** Quadratic ST projection (the S2_QUADRATIC_PROJECTION default). */
  def uvToST(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1 + 3 * u) else 1 - 0.5 * math.sqrt(1 - 3 * u)

  def stToUV(s: Double): Double = {
    if (s >= 0.5) (1.0 / 3.0) * (4 * s * s - 1)
    else (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))
  }

  private def stToIJ(s: Double): Int =
    math.max(0, math.min((1 << MaxLevel) - 1, (s * (1 << MaxLevel)).floor.toInt))

  /** Unit vector -> (face, u, v). Face k is centered on +axis k (0=x, 1=y,
    * 2=z), faces 3-5 on the negative axes.
    */
  def xyzToFaceUV(x: Double, y: Double, z: Double): (Int, Double, Double) = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    val face0 =
      if (ax > ay) { if (ax > az) 0 else 2 }
      else { if (ay > az) 1 else 2 }
    val face = face0 match {
      case 0 if x < 0 => 3
      case 1 if y < 0 => 4
      case 2 if z < 0 => 5
      case f => f
    }
    face match {
      case 0 => (0, y / x, z / x)
      case 1 => (1, -x / y, z / y)
      case 2 => (2, -x / z, -y / z)
      case 3 => (3, z / x, y / x)
      case 4 => (4, z / y, -x / y)
      case 5 => (5, -y / z, -x / z)
    }
  }

  /** Leaf cell id from (face, i, j) via the table-driven Hilbert curve. */
  def fromFaceIJ(face: Int, i: Int, j: Int): Long = {
    var n: Long = face.toLong << (2 * MaxLevel)
    var bits: Int = face & SwapMask
    var k = 7
    while (k >= 0) {
      val mask = (1 << LookupBits) - 1
      bits += ((i >> (k * LookupBits)) & mask) << (LookupBits + 2)
      bits += ((j >> (k * LookupBits)) & mask) << 2
      bits = lookupPos(bits)
      n |= (bits >> 2).toLong << (k * 2 * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    n * 2 + 1
  }

  def lsbForLevel(level: Int): Long = 1L << (2 * (MaxLevel - level))

  /** Cell id containing (lat, lng) degrees at `level`. */
  def cellId(latDeg: Double, lngDeg: Double, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel, s"bad level $level")
    val phi = math.toRadians(latDeg)
    val theta = math.toRadians(lngDeg)
    val cosPhi = math.cos(phi)
    val x = math.cos(theta) * cosPhi
    val y = math.sin(theta) * cosPhi
    val z = math.sin(phi)
    val (face, u, v) = xyzToFaceUV(x, y, z)
    val i = stToIJ(uvToST(u))
    val j = stToIJ(uvToST(v))
    val leaf = fromFaceIJ(face, i, j)
    val lsb = lsbForLevel(level)
    (leaf & -lsb) | lsb
  }

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def face(id: Long): Int = (id >>> (2 * MaxLevel + 1)).toInt

  def parent(id: Long, level: Int): Long = {
    val lsb = lsbForLevel(level)
    (id & -lsb) | lsb
  }

  /** Mean Earth radius used by every spherical-distance surface in the
    * engine.
    */
  val EarthRadiusMetres: Double = 6371000.0

  /** Unit vector of (latDeg, lngDeg). */
  def latLngToXyz(latDeg: Double, lngDeg: Double): (Double, Double, Double) = {
    val phi = math.toRadians(latDeg)
    val theta = math.toRadians(lngDeg)
    val cosPhi = math.cos(phi)
    (math.cos(theta) * cosPhi, math.sin(theta) * cosPhi, math.sin(phi))
  }

  /** Angle (radians) between two unit vectors — atan2 form, stable for
    * both near-parallel and near-antipodal pairs.
    */
  def angleBetween(a: (Double, Double, Double), b: (Double, Double, Double)): Double = {
    val dot = a._1 * b._1 + a._2 * b._2 + a._3 * b._3
    val cx = a._2 * b._3 - a._3 * b._2
    val cy = a._3 * b._1 - a._1 * b._3
    val cz = a._1 * b._2 - a._2 * b._1
    math.atan2(math.sqrt(cx * cx + cy * cy + cz * cz), dot)
  }

  /** Cells at `level` covering the spherical cap of `radiusMetres` around
    * (latDeg, lngDeg) — SEAM-SAFE: hierarchical subdivision from the six
    * face cells working purely in unit-vector space, so caps spanning the
    * antimeridian, the poles, or any face boundary are covered correctly
    * (no face-local (i,j) arithmetic ever crosses an edge).
    *
    * Conservative-superset guarantee: a cell is kept iff
    * angle(cellCenter, capCenter) <= capAngle + cellCircumradius, where
    * the circumradius is the exact max center-to-corner geodesic (S2
    * cells are convex spherical quads, so the farthest cell point from
    * the center is a corner). Every cell intersecting the cap satisfies
    * this, so no candidate is ever missed; the slack only admits a thin
    * extra ring.
    */
  def coverCap(latDeg: Double, lngDeg: Double, radiusMetres: Double,
      level: Int): Seq[Long] = {
    require(level >= 0 && level <= MaxLevel, s"bad level $level")
    require(radiusMetres >= 0, "negative radius")
    val cap = latLngToXyz(latDeg, lngDeg)
    val capAngle = radiusMetres / EarthRadiusMetres
    val leafSpan = 1 << MaxLevel
    val out = Seq.newBuilder[Long]
    def unitAt(face: Int, i: Double, j: Double): (Double, Double, Double) = {
      val u = stToUV(i / leafSpan)
      val v = stToUV(j / leafSpan)
      val (x, y, z) = faceUVToXYZ(face, u, v)
      val n = math.sqrt(x * x + y * y + z * z)
      (x / n, y / n, z / n)
    }
    def recurse(face: Int, i0: Int, j0: Int, size: Int, lvl: Int): Unit = {
      val ctr = unitAt(face, i0 + size * 0.5, j0 + size * 0.5)
      val circum = Seq((i0, j0), (i0 + size, j0), (i0, j0 + size),
        (i0 + size, j0 + size))
        .map { case (ii, jj) => angleBetween(unitAt(face, ii, jj), ctr) }.max
      if (angleBetween(ctr, cap) <= capAngle + circum * 1.0000001) {
        if (lvl == level) out += parent(fromFaceIJ(face, i0, j0), level)
        else {
          val h = size >> 1
          recurse(face, i0, j0, h, lvl + 1)
          recurse(face, i0 + h, j0, h, lvl + 1)
          recurse(face, i0, j0 + h, h, lvl + 1)
          recurse(face, i0 + h, j0 + h, h, lvl + 1)
        }
      }
    }
    (0 until 6).foreach(f => recurse(f, 0, 0, leafSpan, 0))
    out.result()
  }

  /** (face, u, v) -> unit vector (inverse of [[xyzToFaceUV]]). */
  def faceUVToXYZ(face: Int, u: Double, v: Double): (Double, Double, Double) =
    face match {
      case 0 => (1, u, v)
      case 1 => (-u, 1, v)
      case 2 => (-u, -v, 1)
      case 3 => (-1, -v, -u)
      case 4 => (v, -1, -u)
      case _ => (v, u, -1)
    }

  def isValid(id: Long): Boolean =
    id != 0 && face(id) < 6 &&
      (java.lang.Long.numberOfTrailingZeros(id) % 2 == 0)
}
