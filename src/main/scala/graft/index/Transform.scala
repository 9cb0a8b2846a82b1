package graft.index

/** Coordinate transforms: EPSG:27700 (British National Grid, Airy 1830,
  * transverse Mercator) <-> WGS84 lat/lng.
  *
  * All formulas are the published Ordnance Survey projection equations
  * ("A guide to coordinate systems in Great Britain") plus the standard
  * 7-parameter Helmert datum shift — pure deterministic double math, no
  * external library. Accuracy ~5 m, far below H3/S2 cell sizes at the
  * resolutions we index (SURVEY.md §7.6 #1).
  */
object Transform {
  // Airy 1830 ellipsoid (OSGB36)
  private val aAiry = 6377563.396
  private val bAiry = 6356256.909
  // GRS80/WGS84 ellipsoid
  private val aWgs = 6378137.0
  private val bWgs = 6356752.3141
  // Transverse Mercator constants for the National Grid
  private val F0 = 0.9996012717
  private val lat0 = math.toRadians(49.0)
  private val lon0 = math.toRadians(-2.0)
  private val E0 = 400000.0
  private val N0 = -100000.0

  /** Inverse transverse Mercator: BNG easting/northing -> OSGB36 lat/lon
    * (radians).
    */
  def bngToOsgb36(e: Double, n: Double): (Double, Double) = {
    val a = aAiry; val b = bAiry
    val e2 = 1.0 - (b * b) / (a * a)
    val nr = (a - b) / (a + b)
    var lat = lat0
    var m = 0.0
    // Iterate the meridional arc
    var iter = 0
    do {
      lat = (n - N0 - m) / (a * F0) + lat
      m = meridionalArc(a, b, nr, lat)
      iter += 1
    } while (math.abs(n - N0 - m) >= 0.00001 && iter < 20)

    val sinLat = math.sin(lat); val cosLat = math.cos(lat)
    val tanLat = sinLat / cosLat
    // per-row hot path: explicit powers (math.pow costs more than the
    // rest of the projection combined)
    val w = 1 - e2 * sinLat * sinLat
    val sqrtW = math.sqrt(w)
    val nu = a * F0 / sqrtW
    val rho = a * F0 * (1 - e2) / (w * sqrtW)
    val eta2 = nu / rho - 1

    val tan2 = tanLat * tanLat
    val nu3 = nu * nu * nu
    val nu5 = nu3 * nu * nu
    val nu7 = nu5 * nu * nu
    val VII = tanLat / (2 * rho * nu)
    val VIII = tanLat / (24 * rho * nu3) *
      (5 + 3 * tan2 + eta2 - 9 * tan2 * eta2)
    val IX = tanLat / (720 * rho * nu5) *
      (61 + 90 * tan2 + 45 * tan2 * tan2)
    val secLat = 1.0 / cosLat
    val X = secLat / nu
    val XI = secLat / (6 * nu3) * (nu / rho + 2 * tan2)
    val XII = secLat / (120 * nu5) * (5 + 28 * tan2 + 24 * tan2 * tan2)
    val XIIA = secLat / (5040 * nu7) *
      (61 + 662 * tan2 + 1320 * tan2 * tan2 + 720 * tan2 * tan2 * tan2)

    val dE = e - E0
    val dE2 = dE * dE
    val dE3 = dE2 * dE
    val dE4 = dE2 * dE2
    val dE5 = dE4 * dE
    val dE6 = dE4 * dE2
    val dE7 = dE6 * dE
    val latOut = lat - VII * dE2 + VIII * dE4 - IX * dE6
    val lonOut = lon0 + X * dE - XI * dE3 + XII * dE5 - XIIA * dE7
    (latOut, lonOut)
  }

  private def meridionalArc(a: Double, b: Double, n: Double, lat: Double): Double = {
    val dLat = lat - lat0
    val sLat = lat + lat0
    b * F0 * (
      (1 + n + 1.25 * n * n + 1.25 * n * n * n) * dLat -
      (3 * n + 3 * n * n + 2.625 * n * n * n) * math.sin(dLat) * math.cos(sLat) +
      (1.875 * n * n + 1.875 * n * n * n) * math.sin(2 * dLat) * math.cos(2 * sLat) -
      (35.0 / 24.0) * n * n * n * math.sin(3 * dLat) * math.cos(3 * sLat))
  }

  /** Helmert 7-parameter OSGB36 -> WGS84 (published OS values, inverted). */
  def osgb36ToWgs84(lat: Double, lon: Double): (Double, Double) = {
    // geodetic -> cartesian on Airy
    val e2A = 1.0 - (bAiry * bAiry) / (aAiry * aAiry)
    val sinLat = math.sin(lat); val cosLat = math.cos(lat)
    val nu = aAiry / math.sqrt(1 - e2A * sinLat * sinLat)
    val x1 = nu * cosLat * math.cos(lon)
    val y1 = nu * cosLat * math.sin(lon)
    val z1 = nu * (1 - e2A) * sinLat

    // Helmert (OSGB36 -> WGS84 = inverse of the published WGS84 -> OSGB36)
    val tx = 446.448; val ty = -125.157; val tz = 542.060
    val s = -20.4894e-6
    val rx = math.toRadians(0.1502 / 3600.0)
    val ry = math.toRadians(0.2470 / 3600.0)
    val rz = math.toRadians(0.8421 / 3600.0)
    val x2 = tx + (1 + s) * x1 - rz * y1 + ry * z1
    val y2 = ty + rz * x1 + (1 + s) * y1 - rx * z1
    val z2 = tz - ry * x1 + rx * y1 + (1 + s) * z1

    // cartesian -> geodetic on WGS84 (iterative)
    val e2W = 1.0 - (bWgs * bWgs) / (aWgs * aWgs)
    val p = math.sqrt(x2 * x2 + y2 * y2)
    var latW = math.atan2(z2, p * (1 - e2W))
    var latPrev = 2 * math.Pi
    var iter = 0
    while (math.abs(latW - latPrev) > 1e-12 && iter < 20) {
      latPrev = latW
      val nuW = aWgs / math.sqrt(1 - e2W * math.sin(latW) * math.sin(latW))
      latW = math.atan2(z2 + e2W * nuW * math.sin(latW), p)
      iter += 1
    }
    (latW, math.atan2(y2, x2))
  }

  /** Exact chain (inverse TM + Helmert) — lattice seeding and the
    * out-of-canvas fallback. ~1.3M rows/s single-thread.
    */
  def bngToWgs84ExactInto(e: Double, n: Double, out: Array[Double]): Unit = {
    val (la, lo) = bngToOsgb36(e, n) // tuple of primitives (specialized)
    val (laW, loW) = osgb36ToWgs84(la, lo)
    out(0) = math.toDegrees(laW)
    out(1) = math.toDegrees(loW)
  }

  // ------------------------------------------------------------------
  // Lattice fast path: the exact transform is the per-row bottleneck of
  // the cell-encoder pipeline (76% of encoder time, BENCH.md). The map is
  // C-infinity over the canvas, so a Catmull-Rom bicubic over a 2 km
  // lattice reproduces it to 5.7e-10 deg (0.06 mm on the ground — three
  // orders below the Helmert datum shift's own ~5 m accuracy) at ~6x the
  // throughput. Seeded lazily once per JVM (0.2 s, 354x654 nodes, 3.7 MB,
  // interleaved lat/lng for cache locality). Out-of-canvas coordinates
  // fall back to the exact chain, so the function is total.
  // ------------------------------------------------------------------
  private val LSpacing = 2000.0
  private val LNx = (700000 / 2000) + 4 // 1-node pad each side + stencil room
  private val LNy = (1300000 / 2000) + 4

  private lazy val lattice: Array[Double] = {
    val a = new Array[Double](LNx * LNy * 2)
    val out = new Array[Double](2)
    var j = 0
    while (j < LNy) {
      var i = 0
      while (i < LNx) {
        bngToWgs84ExactInto((i - 1) * LSpacing, (j - 1) * LSpacing, out)
        val base = (j * LNx + i) * 2
        a(base) = out(0); a(base + 1) = out(1)
        i += 1
      }
      j += 1
    }
    a
  }

  @inline private def catmullRom(p0: Double, p1: Double, p2: Double,
      p3: Double, t: Double): Double =
    p1 + 0.5 * t * (p2 - p0 + t * (2 * p0 - 5 * p1 + 4 * p2 - p3 +
      t * (3 * (p1 - p2) + p3 - p0)))

  /** BNG (metres) -> WGS84 (degrees). The composition used by the H3/S2
    * encoders; bicubic-lattice fast path on the canvas, exact elsewhere.
    */
  def bngToWgs84Deg(e: Double, n: Double): (Double, Double) = {
    val out = new Array[Double](2)
    bngToWgs84DegInto(e, n, out)
    (out(0), out(1))
  }

  /** Allocation-free variant for the per-row encoder hot path: writes
    * (latDeg, lngDeg) into `out`(0..1).
    */
  def bngToWgs84DegInto(e: Double, n: Double, out: Array[Double]): Unit = {
    if (e < 0 || e > 700000 || n < 0 || n > 1300000) {
      bngToWgs84ExactInto(e, n, out)
      return
    }
    val a = lattice
    val gx = e / LSpacing + 1
    val gy = n / LSpacing + 1
    val i1 = gx.toInt
    val j1 = gy.toInt
    val fx = gx - i1
    val fy = gy - j1
    var la0 = 0.0; var la1 = 0.0; var la2 = 0.0; var la3 = 0.0
    var lo0 = 0.0; var lo1 = 0.0; var lo2 = 0.0; var lo3 = 0.0
    var r = 0
    while (r < 4) {
      val base = ((j1 - 1 + r) * LNx + (i1 - 1)) * 2
      val lat = catmullRom(a(base), a(base + 2), a(base + 4), a(base + 6), fx)
      val lng = catmullRom(a(base + 1), a(base + 3), a(base + 5), a(base + 7), fx)
      r match {
        case 0 => la0 = lat; lo0 = lng
        case 1 => la1 = lat; lo1 = lng
        case 2 => la2 = lat; lo2 = lng
        case _ => la3 = lat; lo3 = lng
      }
      r += 1
    }
    out(0) = catmullRom(la0, la1, la2, la3, fy)
    out(1) = catmullRom(lo0, lo1, lo2, lo3, fy)
  }

  // Thread-local single-entry memo for the datum transform: when several
  // independent scalar expressions in ONE projection index the same row
  // (h3 cell + s2 cell + parents), each calls this instead of redoing
  // the inverse-TM + Helmert chain. Purity makes the memo trivially
  // safe: a hit requires bit-equal (e, n), for which the transform
  // would return exactly the cached values anyway. Layout: e, n, lat,
  // lng. NaN inputs always miss (NaN != NaN) — still correct, just
  // uncached.
  private val tlMemo = ThreadLocal.withInitial[Array[Double]](() => newMemo())

  /** An empty (e, n, lat, lng) memo for [[bngToWgs84Memo]]. */
  def newMemo(): Array[Double] = Array(Double.NaN, Double.NaN, 0.0, 0.0)

  /** Memoized [[bngToWgs84DegInto]]: returns the thread-local (e, n,
    * lat, lng) buffer, recomputing only when (e, n) differ from the
    * previous call on this thread. Callers must read, not retain.
    */
  def bngToWgs84Memo(e: Double, n: Double): Array[Double] = {
    val m = tlMemo.get()
    bngToWgs84Memo(e, n, m)
    m
  }

  /** [[bngToWgs84Memo]] over a memo the caller owns ([[newMemo]]), for
    * generated code: one memo field per generated class, read by every
    * spherical encoder of that class, costs no ThreadLocal lookup per row.
    */
  def bngToWgs84Memo(e: Double, n: Double, m: Array[Double]): Unit =
    if (m(0) != e || m(1) != n) {
      bngToWgs84DegInto(e, n, m) // lat, lng into m(0), m(1)
      m(2) = m(0); m(3) = m(1); m(0) = e; m(1) = n
    }
}
