package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.util.LongAccumulator
import graft.core.{CCL, Kernels, Nd, Regions}
import graft.geojson.Annotate
import graft.ops.{CCLSegmentation, Relabel, SegmentationFn}
import graft.sources.{Zarr3IO, ZarrIO}
import graft.tiles.{GridSpec, Tile}

/** The paper's user extension point used the way a user uses it: a
  * segmentation function that delegates to the built-in CCL and counts its
  * calls, so the number of segmentation passes per tile is an exact count.
  */
final case class CountingSegmentation(calls: LongAccumulator) extends SegmentationFn {
  private val ccl = CCLSegmentation()
  def segment(tile: Tile): (Array[Long], Array[Array[Long]]) = {
    calls.add(1L)
    ccl.segment(tile)
  }
}

/** Outcome of the untimed output check: problems found, and exact counts. */
final case class Checked(errors: Seq[String], counts: Map[String, Long] = Map.empty)

/** One committed pipeline output, still on disk or in memory. */
final case class Output(bytes: Long, check: () => Checked, release: () => Unit)

/** Layer calls of the traced run: each call into a layer's public function
  * is a span, and a lazily built Dataset is forced inside its span (an eager
  * local checkpoint), so the span covers that layer's work and nothing
  * downstream. The previous layer's checkpoint is released once the next one
  * holds the data.
  */
final class Layers(trace: Trace) {
  private var live: Option[Dataset[_]] = None

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  def force[T](name: String)(ds: => Dataset[T]): Dataset[T] = {
    val forced = trace.span(name)(ds.localCheckpoint(eager = true))
    live.foreach(Workload.release)
    live = Some(forced)
    forced
  }

  def done(): Unit = { live.foreach(Workload.release); live = None }
}

/** A benchmark workload: seeded input, the untraced pipeline (input handle
  * to committed output), the same pipeline as traced layer calls, and a
  * check of the output against the generator's ground truth.
  */
abstract class Workload(val spark: SparkSession, val tmp: Path, val cores: Int) {
  def spec: GridSpec
  def overlaps: Array[Int]
  def blobs: Blobs
  /** The pipeline segments an intensity image (image2labels); otherwise
    * its input is already labelled (labels2geojson).
    */
  def segments: Boolean
  /** Threshold of the O3 removal. */
  def threshold: Double

  def pixels: Long = spec.imageShape.product
  def numTiles: Long = spec.gridShape.map(_.toLong).product

  /** Build the input afresh (set-up runs this several times; the last
    * build is the one the runs read).
    */
  def stage(k: Int): Unit
  def run(i: Int, seg: SegmentationFn): Output
  def runTraced(i: Int, seg: SegmentationFn, l: Layers): Output
  /** Exact shuffle records of one untraced run, where the grid alone
    * determines them.
    */
  def expectedRunRecords: Option[Long]
  /** Input store bytes read by one run (0 when the input is in memory). */
  def inputBytes: Long

  import spark.implicits._

  /** Generated chunk-aligned tiles, built on the executors. */
  protected def generated(labels: Boolean): Dataset[Tile] = {
    val b = blobs
    val s = spec
    val g = spec.gridShape
    spark.range(0L, numTiles, 1L, cores)
      .map(lin => b.tile(s, Workload.locOf(lin, g), labels))
  }

  /** Ground-truth check of a core-sized output tile table. Background is
    * exactly where the truth has it, no label covers two objects, and with
    * `dense` the labels are exactly 1..N.
    *
    * The reference's parity rule returns every object whole and under one
    * label except near chunk corners. It removes an object's part in a chunk
    * when that part holds less than `threshold` of it, and the part is lost
    * when the chunk does not pull from the neighbour that kept the object
    * (`ops.pixels_lost`). An object that straddles a chunk corner (crosses
    * chunk borders on two or more axes) can also be kept by no tile
    * (`ops.objects_dropped`) or by two (`ops.objects_split`), and lose
    * larger parts. Any such outcome for an object that does not straddle a
    * corner is an error.
    */
  protected def checkTiles(out: Dataset[Tile], dense: Boolean): Checked = {
    val b = blobs
    val chunk = spec.chunk
    val perTile = out.map { t =>
      val lo = Array.tabulate(t.dims)(a => t.loc(a).toLong * chunk(a))
      val truth = b.box(lo, t.shape, labels = true)
      var phantom = 0L
      val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
      val parts = mutable.LinkedHashMap.empty[Long, Array[Long]]
      var last = (0L, 0L)
      var i = 0
      while (i < truth.length) {
        val lab = t.data(i)
        val obj = truth(i)
        if (obj == 0L) { if (lab != 0L) phantom += 1 }
        else {
          val part = parts.getOrElseUpdate(obj, new Array[Long](2))
          part(0) += 1
          if (lab == 0L) part(1) += 1
          else if ((lab, obj) != last) { last = (lab, obj); pairs += last }
        }
        i += 1
      }
      (phantom, pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toArray,
        parts.iterator.filter(_._2(1) > 0)
          .flatMap { case (o, c) => Iterator(o, c(0), c(1)) }.toArray)
    }.collect()
    val errors = mutable.ArrayBuffer.empty[String]
    val phantom = perTile.map(_._1).sum
    if (phantom > 0) errors += s"$phantom background pixels are labelled"
    val labObj = mutable.HashMap.empty[Long, Long]
    val objLabs = mutable.HashMap.empty[Long, Set[Long]]
    perTile.foreach { case (_, pairs, _) =>
      pairs.grouped(2).foreach { case Array(lab, obj) =>
        if (labObj.getOrElseUpdate(lab, obj) != obj)
          errors += s"label $lab covers objects ${labObj(lab)} and $obj"
        objLabs(obj) = objLabs.getOrElse(obj, Set.empty[Long]) + lab
      }
    }
    val split = objLabs.filter(_._2.size > 1).keys
    split.filterNot(straddlesCorner).foreach(o =>
      errors += s"object $o, not at a chunk corner, has labels ${objLabs(o).mkString(",")}")
    var pixelsLost = 0L
    perTile.foreach { case (_, _, parts) =>
      parts.grouped(3).foreach { case Array(o, inTile, unlabelled) =>
        if (objLabs.contains(o)) {
          pixelsLost += unlabelled
          val sliver = unlabelled == inTile && inTile < threshold * b.pixelsOf(o - 1)
          if (!sliver && !straddlesCorner(o))
            errors += s"object $o lost $unlabelled of the $inTile pixels it has " +
              s"in one chunk (${b.pixelsOf(o - 1)} in all)"
        }
      }
    }
    if (dense && labObj.nonEmpty &&
        (labObj.keys.min != 1L || labObj.keys.max != labObj.size.toLong))
      errors += s"labels are not dense 1..N (min ${labObj.keys.min}, " +
        s"max ${labObj.keys.max}, ${labObj.size} labels)"
    val dropped = checkDropped(objLabs.keySet, errors)
    Checked(errors.take(5).toSeq, Map("ops.objects_dropped" -> dropped,
      "ops.objects_split" -> split.size.toLong, "ops.pixels_lost" -> pixelsLost))
  }

  /** The object crosses chunk borders on at least two axes. */
  protected def straddlesCorner(o: Long): Boolean = {
    val cc = Workload.locOf(o - 1, blobs.cells)
    val r = blobs.radius(o - 1)
    cc.indices.count { a =>
      val c = blobs.centre(o - 1, cc(a), a)
      (c - r) / spec.chunk(a) != (c + r) / spec.chunk(a)
    } >= 2
  }

  /** Objects the output does not contain at all; each must straddle a
    * chunk corner (see [[checkTiles]]). Returns the number dropped.
    */
  protected def checkDropped(found: collection.Set[Long],
      errors: mutable.Buffer[String]): Long = {
    val lost = (1L to blobs.numObjects).filterNot(found.contains)
    lost.filterNot(straddlesCorner).foreach(o =>
      errors += s"object $o, not at a chunk corner, is missing")
    lost.size.toLong
  }

  /** Expected (records, int64 payload bytes) of one halo exchange, from the
    * grid alone. O1 (`parity = false`): every chunk-sized tile ships itself
    * plus one margin shard toward each in-grid neighbour. O4 (`parity =
    * true`): the halo-expanded tiles ship themselves plus the margin shards
    * whose receiver has an odd coordinate on some axis the shard crosses.
    */
  def haloExpected(parity: Boolean): (Long, Long) = {
    val grid = spec.gridShape
    val dims = spec.dims
    val dirs = (0 until math.pow(3, dims).toInt).map { k =>
      Array.tabulate(dims)(a => (k / math.pow(3, dims - 1 - a).toInt) % 3 - 1)
    }.filter(_.exists(_ != 0))
    var records, px = 0L
    (0L until numTiles).foreach { lin =>
      val loc = Workload.locOf(lin, grid)
      val shape = if (parity) spec.overlappedShape(loc, overlaps) else spec.chunk
      records += 1
      px += shape.map(_.toLong).product
      dirs.foreach { d =>
        val dest = Array.tabulate(dims)(a => loc(a) + d(a))
        val inGrid = dest.indices.forall(a => dest(a) >= 0 && dest(a) < grid(a))
        val used = !parity || dest.indices.exists(a => d(a) != 0 && dest(a) % 2 != 0)
        if (inGrid && used) {
          records += 1
          px += Array.tabulate(dims)(a =>
            if (d(a) != 0) overlaps(a).toLong else shape(a).toLong).product
        }
      }
    }
    (records, px * 8)
  }

  /** One interior halo-expanded tile of this workload's input, for the
    * single-threaded kernel timings.
    */
  def kernelTile(labels: Boolean): Tile = {
    val grid = spec.gridShape
    val loc = grid.map(g => math.min(1, g - 1))
    val shape = spec.overlappedShape(loc, overlaps)
    val lo = Array.tabulate(spec.dims)(a =>
      loc(a).toLong * spec.chunk(a) - (if (loc(a) > 0) overlaps(a) else 0))
    Tile(loc, grid, shape, blobs.box(lo, shape, labels))
  }
}

object Workload {
  val names: Seq[String] = Seq("zarr2d_labels", "vol3d_sorted", "labels2geojson_zip")

  def apply(name: String, spark: SparkSession, tmp: Path, seed: Long,
      cores: Int): Workload = name match {
    case "zarr2d_labels"      => new Zarr2dLabels(spark, tmp, seed, cores)
    case "vol3d_sorted"       => new Vol3dSorted(spark, tmp, seed, cores)
    case "labels2geojson_zip" => new Labels2GeojsonZip(spark, tmp, seed, cores)
  }

  def locOf(lin: Long, grid: Array[Int]): Array[Int] = {
    val loc = new Array[Int](grid.length)
    var rest = lin
    var a = grid.length - 1
    while (a >= 0) { loc(a) = (rest % grid(a)).toInt; rest /= grid(a); a -= 1 }
    loc
  }

  /** Drop the blocks of an eager local checkpoint. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Bytes an eager local checkpoint holds in the block manager. */
  def storedBytes(ds: Dataset[_]): Long = {
    val ids = ds.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
    ds.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum
  }

  /** Rows held by an eager local checkpoint (a job over its blocks). */
  def storedRows(ds: Dataset[_]): Long =
    ds.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.count() }.sum

  private def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  /** Bytes of a store or file, without the filesystem's checksum files. */
  def storeBytes(p: Path): Long =
    files(p).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  /** Chunk (or shard) objects of a zarr store: files other than the
    * metadata and checksum files.
    */
  def chunkFiles(p: Path): Long =
    files(p).map(_.getFileName.toString)
      .count(n => !n.startsWith(".") && n != "zarr.json").toLong

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** zarr v2 uint8 gzip store -> image2labels (CCL, threshold 0.05) -> zarr v2
  * int64 store. In 2D a tile has only 8 neighbours, so the halo is light
  * and the zarr codecs and CCL carry most of the work.
  */
final class Zarr2dLabels(spark: SparkSession, tmp: Path, seed: Long, cores: Int)
    extends Workload(spark, tmp, cores) {
  val spec = GridSpec(Array(1536L, 1536L), Array(256, 256))
  val overlaps = Array(32, 32)
  val blobs = Blobs(spec.imageShape, 24, 3, 7, seed)
  val segments = true
  val threshold = 0.05
  private var input: Path = _

  def stage(k: Int): Unit = {
    Option(input).foreach(Workload.deleteTree)
    input = tmp.resolve(s"input-$k.zarr")
    ZarrIO.write(generated(labels = false), spec, input.toString, "|u1", "gzip")
  }

  def inputBytes: Long = Workload.storeBytes(input)

  def expectedRunRecords: Option[Long] =
    Some(haloExpected(parity = false)._1 + haloExpected(parity = true)._1)

  private def committed(out: Path): Output =
    Output(Workload.storeBytes(out),
      () => {
        val c = checkTiles(ZarrIO.read(spark, out.toString), dense = false)
        c.copy(counts = c.counts ++ Map(
          "sources.chunks_written" -> Workload.chunkFiles(out),
          "sources.write_bytes" -> Workload.storeBytes(out)))
      },
      () => Workload.deleteTree(out))

  def run(i: Int, seg: SegmentationFn): Output = {
    val out = tmp.resolve(s"out-$i.zarr")
    val labels = Relabel.image2labels(ZarrIO.read(spark, input.toString), spec,
      seg, overlaps, threshold)
    ZarrIO.write(labels, spec, out.toString)
    committed(out)
  }

  def runTraced(i: Int, seg: SegmentationFn, l: Layers): Output = {
    val out = tmp.resolve(s"out-$i.zarr")
    val tiles = l.force("sources.read")(ZarrIO.read(spark, input.toString))
    val read = Workload.storedRows(tiles)
    val prepared = l.force("ops.prepare")(Relabel.prepareInput(tiles, spec, overlaps))
    val segmented = l.force("ops.segment")(Relabel.segmentOverlappedInput(prepared, seg))
    val removed = l.force("ops.remove")(
      Relabel.removeOverlappedLabels(segmented, overlaps, threshold))
    val merged = l.force("ops.merge")(Relabel.mergeOverlappedTiles(removed, overlaps))
    val cropped = l.force("ops.crop")(Relabel.cropToImage(merged, spec))
    l.span("sources.write")(ZarrIO.write(cropped, spec, out.toString))
    l.done()
    val o = committed(out)
    o.copy(check = () => {
      val c = o.check()
      c.copy(counts = c.counts + ("sources.chunks_read" -> read))
    })
  }
}

/** In-memory 3D volume -> image2labels -> sortLabelIndices, with no store
  * I/O: the 26-neighbour halo exchanges and O10 carry the work. The output
  * is committed as an eager local checkpoint.
  */
final class Vol3dSorted(spark: SparkSession, tmp: Path, seed: Long, cores: Int)
    extends Workload(spark, tmp, cores) {
  val spec = GridSpec(Array(64L, 192L, 192L), Array(32, 64, 64))
  val overlaps = Array(8, 8, 8)
  val blobs = Blobs(spec.imageShape, 12, 2, 3, seed)
  val segments = true
  val threshold = 0.05
  private var input: Dataset[Tile] = _

  def stage(k: Int): Unit = {
    Option(input).foreach(Workload.release)
    input = generated(labels = false).localCheckpoint(eager = true)
  }

  def inputBytes: Long = 0L
  def expectedRunRecords: Option[Long] = None

  private def committed(out: Dataset[Tile]): Output =
    Output(Workload.storedBytes(out),
      () => checkTiles(out, dense = true),
      () => Workload.release(out))

  def run(i: Int, seg: SegmentationFn): Output = {
    val labels = Relabel.image2labels(input, spec, seg, overlaps, threshold)
    committed(Relabel.sortLabelIndices(labels).localCheckpoint(eager = true))
  }

  def runTraced(i: Int, seg: SegmentationFn, l: Layers): Output = {
    val prepared = l.force("ops.prepare")(Relabel.prepareInput(input, spec, overlaps))
    val segmented = l.force("ops.segment")(Relabel.segmentOverlappedInput(prepared, seg))
    val removed = l.force("ops.remove")(
      Relabel.removeOverlappedLabels(segmented, overlaps, threshold))
    val merged = l.force("ops.merge")(Relabel.mergeOverlappedTiles(removed, overlaps))
    val cropped = l.force("ops.crop")(Relabel.cropToImage(merged, spec))
    val sorted = l.span("ops.sort") {
      val s = l.span("ops.sort_build")(Relabel.sortLabelIndices(cropped))
      s.localCheckpoint(eager = true)
    }
    l.done()
    committed(sorted)
  }
}

/** Pre-labelled int32 sharded zarr v3 store -> labels2geojson (threshold
  * 0.5) -> zipAnnotations. No CCL and no O4 merge: contour tracing, GeoJSON
  * text and the serial driver-side zip carry the work.
  */
final class Labels2GeojsonZip(spark: SparkSession, tmp: Path, seed: Long, cores: Int)
    extends Workload(spark, tmp, cores) {
  val spec = GridSpec(Array(1536L, 1536L), Array(256, 256))
  val shard = Array(512, 512)
  val overlaps = Array(16, 16)
  val blobs = Blobs(spec.imageShape, 24, 3, 7, seed)
  val segments = false
  val threshold = 0.5
  private var input: Path = _

  def stage(k: Int): Unit = {
    Option(input).foreach(Workload.deleteTree)
    input = tmp.resolve(s"input-$k.zarr")
    Zarr3IO.writeSharded(generated(labels = true), spec, shard, input.toString,
      dataType = "int32")
  }

  def inputBytes: Long = Workload.storeBytes(input)
  def expectedRunRecords: Option[Long] = Some(haloExpected(parity = false)._1)

  /** Every feature's outer ring lies inside exactly one true object, and no
    * object has two features. Objects without a feature are counted as
    * dropped (see [[checkDropped]]).
    */
  private def checkZip(zip: Path): Checked = {
    val b = blobs
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val zf = new java.util.zip.ZipFile(zip.toFile)
    val errors = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[Long]
    var features = 0L
    try zf.entries().asScala.foreach { e =>
      val root = om.readTree(zf.getInputStream(e))
      root.path("features").elements().asScala.foreach { f =>
        features += 1
        val ring = f.path("geometry").path("coordinates").path(0)
        val objs = ring.elements().asScala.map { p =>
          b.objectAt(Array(p.path(1).asLong(), p.path(0).asLong()))
        }.toSet
        if (objs.size != 1 || objs.contains(0L))
          errors += s"${e.getName}: a feature's ring covers objects ${objs.mkString(",")}"
        else if (!seen.add(objs.head))
          errors += s"${e.getName}: object ${objs.head} has a second feature"
      }
    } finally zf.close()
    val dropped = checkDropped(seen, errors)
    Checked(errors.take(5).toSeq, Map(
      "geojson.features" -> features,
      "geojson.objects_dropped" -> dropped,
      "geojson.zip_bytes" -> Workload.storeBytes(zip)))
  }

  private def committed(zip: Path): Output =
    Output(Workload.storeBytes(zip), () => checkZip(zip), () => Workload.deleteTree(zip))

  def run(i: Int, seg: SegmentationFn): Output = {
    val zip = tmp.resolve(s"out-$i.zip")
    val ann = Relabel.labels2geojson(Zarr3IO.read(spark, input.toString), spec,
      overlaps, threshold)
    Annotate.zipAnnotations(ann, zip.toString)
    committed(zip)
  }

  def runTraced(i: Int, seg: SegmentationFn, l: Layers): Output = {
    val zip = tmp.resolve(s"out-$i.zip")
    val tiles = l.force("sources.read")(Zarr3IO.read(spark, input.toString))
    val read = Workload.storedRows(tiles)
    val prepared = l.force("ops.prepare")(Relabel.prepareInput(tiles, spec, overlaps))
    val removed = l.force("ops.remove")(
      Relabel.removeOverlappedLabels(prepared, overlaps, threshold))
    val ann = l.force("geojson.annotate")(Annotate.annotateLabeledTiles(removed, overlaps))
    l.span("geojson.zip")(Annotate.zipAnnotations(ann, zip.toString))
    l.done()
    val o = committed(zip)
    o.copy(check = () => {
      val c = o.check()
      c.copy(counts = c.counts + ("sources.chunks_read" -> read))
    })
  }
}

/** Single-threaded kernel timings on one representative tile, no Spark:
  * ns per pixel of the tile each kernel processes, median of repetitions.
  */
object KernelTimes {
  private def nsPerPx(px: Long)(body: => Any): Double = {
    val times = mutable.ArrayBuffer.empty[Long]
    val start = System.nanoTime()
    while (times.size < 5 || System.nanoTime() - start < 200000000L) {
      val t0 = System.nanoTime()
      body
      times += System.nanoTime() - t0
    }
    times.sorted.apply(times.size / 2).toDouble / px
  }

  def measure(wl: Workload): Map[String, Double] = {
    val ov = wl.overlaps
    val input = wl.kernelTile(labels = !wl.segments)
    val labelled =
      if (wl.segments) input.copy(data = CCL.label(input.data, input.shape)) else input
    val removed = Kernels.removeOverlapped(labelled, ov, wl.threshold)
    val shards = Regions.mergingOverlaps(removed.loc, removed.grid).map { lv =>
      lv.toSeq -> Nd.sliceBox(removed.data, removed.shape,
        Regions.destBox(removed.loc, removed.grid, ov, lv, removed.shape))
    }.toMap
    val shardFor = (lv: Array[Int]) => (shards(lv.toSeq), Array.empty[Array[Long]])
    val rank = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    removed.data.distinct.sorted.zipWithIndex.foreach { case (l, r) => rank.put(l, r.toLong) }
    val px = input.numel.toLong
    val classes = Map(0L -> "cell", 1L -> "cell")
    Map(
      "core.ccl_ns_px" -> nsPerPx(px)(CCL.label(input.data, input.shape)),
      "core.remove_ns_px" -> nsPerPx(px)(Kernels.removeOverlapped(labelled, ov, wl.threshold)),
      "core.merge_paint_ns_px" -> nsPerPx(px)(Kernels.mergePaint(removed, ov, shardFor)),
      "core.sort_remap_ns_px" -> nsPerPx(px)(Kernels.sortRemap(removed, rank)),
      "geojson.annotate_ns_px" -> nsPerPx(px)(
        if (removed.dims == 2) Annotate.annotateTile(removed, ov, classes)
        else Annotate.annotateTile3d(removed, ov, classes)))
  }
}
