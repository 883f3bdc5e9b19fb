package perfbench

import graft.tiles.{GridSpec, Tile}

/** Seeded synthetic input with an analytic ground truth: a lattice of
  * disks (2D) or balls (3D). Every lattice cell that lies wholly inside the
  * image holds exactly one object, centred near the cell centre with a
  * seeded jitter and a seeded radius in `[rMin, rMax]`. Jitter is capped so
  * that at least one background pixel separates objects of adjacent cells;
  * every object is therefore exactly one connectivity-1 component, and the
  * object id of any pixel (its cell's linear index + 1, or 0 for
  * background) is a pure function of the pixel's coordinates.
  *
  * Objects are placed without regard to the chunk grid, so with a cell size
  * that does not divide the chunk size many of them cross chunk borders —
  * the case the halo exchanges and the parity rule exist for.
  */
final case class Blobs(shape: Array[Long], cell: Int, rMin: Int, rMax: Int,
    seed: Long) {

  val dims: Int = shape.length
  /** Object cells per axis (partial cells at the high edge stay empty). */
  val cells: Array[Int] = shape.map(s => (s / cell).toInt)
  val numObjects: Long = cells.foldLeft(1L)(_ * _)
  private val jitter = cell / 2 - rMax - 2
  require(rMin >= 1 && rMax >= rMin && jitter >= 0,
    s"radius $rMax does not fit a $cell-pixel cell with a 1-pixel gap")

  private def mix(x0: Long): Long = { // splitmix64 finaliser
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def draw(cellLin: Long, salt: Int, n: Int): Int =
    java.lang.Math.floorMod(mix(seed * 0x632BE59BD9B4E019L + cellLin * 31 + salt), n.toLong).toInt

  def radius(cellLin: Long): Int = rMin + draw(cellLin, dims, rMax - rMin + 1)
  def centre(cellLin: Long, cellCoord: Int, axis: Int): Int =
    cellCoord * cell + cell / 2 + draw(cellLin, axis, 2 * jitter + 1) - jitter
  /** Pixel intensity of an object (1..255): distinct neighbouring values
    * make the uint8 input realistic for the codec without changing the
    * components.
    */
  def intensity(cellLin: Long): Long = 1L + draw(cellLin, dims + 1, 255)

  /** Pixel count of the object in cell `cellLin`. */
  def pixelsOf(cellLin: Long): Long = {
    val r = radius(cellLin)
    var n = 0L
    val d = new Array[Int](dims)
    java.util.Arrays.fill(d, -r)
    var done = false
    while (!done) {
      if (d.map(x => x.toLong * x).sum <= r.toLong * r) n += 1
      var a = dims - 1
      var carry = true
      while (carry && a >= 0) {
        d(a) += 1
        if (d(a) > r) { d(a) = -r; a -= 1 } else carry = false
      }
      done = carry
    }
    n
  }

  /** Ground-truth object id at global coordinates (0 = background). */
  def objectAt(coords: Array[Long]): Long = {
    var lin = 0L
    var a = 0
    while (a < dims) {
      val c = coords(a) / cell
      // cheap reject before hashing: farther from the nominal centre than
      // any jittered object can reach
      if (c >= cells(a) || math.abs(coords(a) - c * cell - cell / 2) > jitter + rMax)
        return 0L
      lin = lin * cells(a) + c
      a += 1
    }
    val r = radius(lin)
    var d2 = 0L
    a = 0
    while (a < dims) {
      val d = coords(a) - centre(lin, (coords(a) / cell).toInt, a)
      d2 += d * d
      a += 1
    }
    if (d2 <= r.toLong * r) lin + 1 else 0L
  }

  /** Row-major payload of the global box `[lo, lo + extent)`, as object ids
    * (`labels = true`) or as intensities (background 0).
    */
  def box(lo: Array[Long], extent: Array[Int], labels: Boolean): Array[Long] = {
    val n = extent.product
    val out = new Array[Long](n)
    val coords = lo.clone()
    var i = 0
    while (i < n) {
      val obj = objectAt(coords)
      if (obj != 0L) out(i) = if (labels) obj else intensity(obj - 1)
      i += 1
      var a = dims - 1
      var carry = true
      while (carry && a >= 0) {
        coords(a) += 1
        if (coords(a) - lo(a) >= extent(a)) { coords(a) = lo(a); a -= 1 }
        else carry = false
      }
    }
    out
  }

  /** The chunk-aligned tile at grid location `loc` (exact extent, clipped
    * to the image), as [[graft.sources.ZarrIO.read]] would produce it.
    */
  def tile(spec: GridSpec, loc: Array[Int], labels: Boolean): Tile = {
    val lo = Array.tabulate(dims)(a => loc(a).toLong * spec.chunk(a))
    val ext = Array.tabulate(dims)(a =>
      math.min(spec.chunk(a).toLong, shape(a) - lo(a)).toInt)
    Tile(loc, spec.gridShape, ext, box(lo, ext, labels))
  }
}
