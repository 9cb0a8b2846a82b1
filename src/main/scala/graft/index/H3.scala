package graft.index

/** H3-style aperture-7 hexagonal hierarchical index over the icosahedron,
  * implemented from first principles.
  *
  * Structure matches the published H3 system: 20 icosahedral faces,
  * gnomonic projection per face, hexagonal grid whose resolution r+1 is
  * a sqrt(7)-scaled, ~19.107°-rotated (aperture-7, alternating Class
  * II/III) refinement of resolution r, resolutions 0..15, cube-rounded
  * axial coordinates.
  *
  * DOCUMENTED DEVIATION: cell ids are NOT bit-compatible with Uber H3.
  * H3's exact numbering rests on hand-authored base-cell ownership tables
  * (122 base cells spanning face boundaries) that cannot be derived
  * offline; this sandbox has no network and no H3 artifact to transcribe
  * them from. Cells here are keyed (res, face, i, j) with face-clipped
  * boundary cells. Determinism, hierarchy, ring expansion, and cell-size
  * uniformity — the properties the engine relies on — are tested in
  * H3S2Spec.
  */
object H3 {
  val MaxRes = 15

  // Icosahedron from the golden ratio: 12 vertices (0, ±1, ±φ) cyclic.
  private val phi = (1.0 + math.sqrt(5.0)) / 2.0
  private val verts: Array[Array[Double]] = {
    val raw = Array(
      Array(-1.0, phi, 0.0), Array(1.0, phi, 0.0), Array(-1.0, -phi, 0.0),
      Array(1.0, -phi, 0.0), Array(0.0, -1.0, phi), Array(0.0, 1.0, phi),
      Array(0.0, -1.0, -phi), Array(0.0, 1.0, -phi), Array(phi, 0.0, -1.0),
      Array(phi, 0.0, 1.0), Array(-phi, 0.0, -1.0), Array(-phi, 0.0, 1.0))
    raw.map(normalize)
  }
  // The 20 faces (vertex index triples) of the icosahedron above.
  private val faceVerts: Array[Array[Int]] = Array(
    Array(0, 11, 5), Array(0, 5, 1), Array(0, 1, 7), Array(0, 7, 10),
    Array(0, 10, 11), Array(1, 5, 9), Array(5, 11, 4), Array(11, 10, 2),
    Array(10, 7, 6), Array(7, 1, 8), Array(3, 9, 4), Array(3, 4, 2),
    Array(3, 2, 6), Array(3, 6, 8), Array(3, 8, 9), Array(4, 9, 5),
    Array(2, 4, 11), Array(6, 2, 10), Array(8, 6, 7), Array(9, 8, 1))

  private[index] val faceCenters: Array[Array[Double]] =
    faceVerts.map { f =>
      normalize(Array(
        verts(f(0))(0) + verts(f(1))(0) + verts(f(2))(0),
        verts(f(0))(1) + verts(f(1))(1) + verts(f(2))(1),
        verts(f(0))(2) + verts(f(1))(2) + verts(f(2))(2)))
    }

  // Per-face orthonormal basis in the tangent plane (deterministic:
  // x-axis toward the face's first vertex).
  private val faceAxes: Array[(Array[Double], Array[Double])] =
    faceVerts.zipWithIndex.map { case (f, fi) =>
      val c = faceCenters(fi)
      val v0 = verts(f(0))
      val xAxis = normalize(sub(v0, scale(c, dot(v0, c))))
      val yAxis = cross(c, xAxis)
      (xAxis, yAxis)
    }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
    Array(v(0) / n, v(1) / n, v(2) / n)
  }
  private def dot(a: Array[Double], b: Array[Double]): Double =
    a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
  private def sub(a: Array[Double], b: Array[Double]): Array[Double] =
    Array(a(0) - b(0), a(1) - b(1), a(2) - b(2))
  private def scale(a: Array[Double], s: Double): Array[Double] =
    Array(a(0) * s, a(1) * s, a(2) * s)
  private def cross(a: Array[Double], b: Array[Double]): Array[Double] =
    Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2),
      a(0) * b(1) - a(1) * b(0))

  /** Nearest face center (deterministic tie-break: lowest index). */
  def faceOf(xyz: Array[Double]): Int = {
    var best = 0
    var bestDot = -2.0
    var f = 0
    while (f < 20) {
      val d = dot(xyz, faceCenters(f))
      if (d > bestDot + 1e-15) { bestDot = d; best = f }
      f += 1
    }
    best
  }

  /** Aperture-7 rotation angle: atan(sqrt(3)/5) ~ 19.1066°. */
  private val rot7 = math.atan2(math.sqrt(3.0), 5.0)
  /** Res-0 hex circumradius on the gnomonic plane (face circumradius
    * scaled so ~1 hex covers a face at res 0).
    */
  private val hexSize0 = 0.65

  // Precomputed per-resolution hex size and accumulated rotation (hot
  // path: avoids a loop + tuple allocation per encoded row).
  private val resSizes: Array[Double] =
    Array.iterate(hexSize0, MaxRes + 1)(_ / math.sqrt(7.0))
  private val resAngles: Array[Double] =
    Array.tabulate(MaxRes + 1)(_ * rot7)
  // Per-res rotation cos/sin tables: parent() sat in the multi-res
  // kernel's per-row path with FOUR math.cos/sin calls per step (x5
  // steps per row at the north rule's res 7-12 width) — all of constant
  // angles. Tables turn the rotation into pure multiply-adds.
  private val resCos: Array[Double] = resAngles.map(math.cos)
  private val resSin: Array[Double] = resAngles.map(math.sin)
  private val Sqrt3 = math.sqrt(3.0)
  private val Sqrt3Third = math.sqrt(3.0) / 3.0

  // Flat face-geometry tables for the scalar (allocation-free) cellId
  // path: tangent-plane basis + centers as parallel double arrays.
  private val fcx = faceCenters.map(_(0))
  private val fcy = faceCenters.map(_(1))
  private val fcz = faceCenters.map(_(2))
  private val axXx = faceAxes.map(_._1(0))
  private val axXy = faceAxes.map(_._1(1))
  private val axXz = faceAxes.map(_._1(2))
  private val axYx = faceAxes.map(_._2(0))
  private val axYy = faceAxes.map(_._2(1))
  private val axYz = faceAxes.map(_._2(2))

  /** Hex size and accumulated rotation at a resolution. */
  private def resGeom(res: Int): (Double, Double) = (resSizes(res), resAngles(res))

  /** (latDeg, lngDeg, res) -> packed cell id:
    * [4 bits res | 5 bits face | 27 bits i+OFF | 27 bits j+OFF].
    */
  def cellId(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 0 && res <= MaxRes, s"bad res $res")
    val phiR = math.toRadians(latDeg)
    val theta = math.toRadians(lngDeg)
    val cosPhi = math.cos(phiR)
    // unit vector on the sphere — scalars, no per-row array
    val vx = math.cos(theta) * cosPhi
    val vy = math.sin(theta) * cosPhi
    val vz = math.sin(phiR)
    // nearest face center (deterministic tie-break: lowest index)
    var f = 0
    var bestDot = -2.0
    var fi = 0
    while (fi < 20) {
      val d = vx * fcx(fi) + vy * fcy(fi) + vz * fcz(fi)
      if (d > bestDot + 1e-15) { bestDot = d; f = fi }
      fi += 1
    }
    // gnomonic projection onto the tangent plane at the face center
    val d = vx * fcx(f) + vy * fcy(f) + vz * fcz(f)
    val px = (vx * axXx(f) + vy * axXy(f) + vz * axXz(f)) / d
    val py = (vx * axYx(f) + vy * axYy(f) + vz * axYz(f)) / d
    val size = resSizes(res)
    // rotate by -ang: cos(-a)=cos a, sin(-a)=-sin a (table lookup)
    val ca = resCos(res); val sa = -resSin(res)
    val rx = px * ca - py * sa
    val ry = px * sa + py * ca
    // axial hex coords (pointy-top): q = (sqrt(3)/3 x - 1/3 y)/s, r = 2/3 y / s
    val q = (Sqrt3Third * rx - ry / 3.0) / size
    val rr = (2.0 / 3.0 * ry) / size
    val qr = cubeRoundPacked(q, rr)
    pack(res, f, (qr >> 32).toInt, qr.toInt)
  }

  /** Standard cube rounding, result packed (q << 32 | r & mask) so the
    * per-row hot paths allocate no tuple.
    */
  def cubeRoundPacked(q: Double, r: Double): Long = {
    val s = -q - r
    var rq = math.round(q).toInt
    var rr = math.round(r).toInt
    val rs = math.round(s).toInt
    val dq = math.abs(rq - q); val dr = math.abs(rr - r); val ds = math.abs(rs - s)
    if (dq > dr && dq > ds) rq = -rr - rs
    else if (dr > ds) rr = -rq - rs
    (rq.toLong << 32) | (rr.toLong & 0xffffffffL)
  }

  /** Standard cube rounding of fractional axial coordinates. */
  def cubeRound(q: Double, r: Double): (Int, Int) = {
    val p = cubeRoundPacked(q, r)
    ((p >> 32).toInt, p.toInt)
  }

  private val Off = 1 << 26
  def pack(res: Int, face: Int, i: Int, j: Int): Long =
    (res.toLong << 59) | (face.toLong << 54) |
      ((i + Off).toLong << 27) | (j + Off).toLong
  def resOf(id: Long): Int = ((id >>> 59) & 0xfL).toInt
  def faceOfId(id: Long): Int = ((id >>> 54) & 0x1fL).toInt
  def iOf(id: Long): Int = (((id >>> 27) & 0x7ffffffL) - Off).toInt
  def jOf(id: Long): Int = ((id & 0x7ffffffL) - Off).toInt

  /** Cell center back on the sphere (lat/lng degrees). */
  def cellCenter(id: Long): (Double, Double) = {
    val res = resOf(id); val f = faceOfId(id)
    val size = resSizes(res); val ang = resAngles(res)
    val q = iOf(id).toDouble; val r = jOf(id).toDouble
    val rx = size * math.sqrt(3.0) * (q + r / 2.0)
    val ry = size * 1.5 * r
    val ca = math.cos(ang); val sa = math.sin(ang)
    val px = rx * ca - ry * sa
    val py = rx * sa + ry * ca
    val c = faceCenters(f)
    val p = normalize(Array(
      c(0) + px * faceAxes(f)._1(0) + py * faceAxes(f)._2(0),
      c(1) + px * faceAxes(f)._1(1) + py * faceAxes(f)._2(1),
      c(2) + px * faceAxes(f)._1(2) + py * faceAxes(f)._2(2)))
    (math.toDegrees(math.asin(p(2))), math.toDegrees(math.atan2(p(1), p(0))))
  }

  /** Parent at a coarser resolution, computed entirely on the cell's own
    * face plane (child center -> parent-res axial coords -> cube round).
    * No sphere round-trip, so face ownership never flips — parentage is
    * exact and deterministic even for face-boundary cells.
    */
  def parent(id: Long, parentRes: Int): Long = {
    val res = resOf(id); val f = faceOfId(id)
    require(parentRes <= res, "parentRes must be coarser")
    val size = resSizes(res)
    val q = iOf(id).toDouble; val r = jOf(id).toDouble
    // face-plane coordinates of the child center (trig from the per-res
    // tables — this runs 5x per row in the north-rule indexing width)
    val rx0 = size * Sqrt3 * (q + r / 2.0)
    val ry0 = size * 1.5 * r
    val ca0 = resCos(res); val sa0 = resSin(res)
    val px = rx0 * ca0 - ry0 * sa0
    val py = rx0 * sa0 + ry0 * ca0
    // into the parent-resolution grid (rotate by -pang)
    val psize = resSizes(parentRes)
    val ca = resCos(parentRes); val sa = -resSin(parentRes)
    val rx = px * ca - py * sa
    val ry = px * sa + py * ca
    val pq = (Sqrt3Third * rx - ry / 3.0) / psize
    val pr = (2.0 / 3.0 * ry) / psize
    val qr = cubeRoundPacked(pq, pr)
    pack(parentRes, f, (qr >> 32).toInt, qr.toInt)
  }
}
