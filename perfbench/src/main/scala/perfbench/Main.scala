package perfbench

import java.nio.file.Paths
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.BenchProtocol

/** Benchmark of the paper's relabel pipeline: one workload per JVM, one
  * client in a closed loop (the next pipeline run starts when the previous
  * one has committed its output), on `local[cores]` with shuffle partitions
  * equal to cores (`BenchProtocol.session`). Every output is checked
  * against the generator's ground truth outside the timed interval.
  *
  *   --workload W --seed N --seconds S --trace 0|1 --tmp DIR [--spans FILE]
  *
  * `--trace 0` measures the end-to-end metrics. `--trace 1` spends half of
  * its time on untraced runs and half on traced runs, whose layer calls are
  * spans, then times the core kernels on one tile, and prints the
  * per-layer metrics and table. The last stdout line is the JSON result.
  */
object Main {

  final case class Sample(wallS: Double, shuffleBytes: Long, shuffleRecords: Long,
      outBytes: Long, jobs: Long, stages: Long, tasks: Long, taskS: Double,
      gcS: Double, spillBytes: Long, driverOnlyS: Double, segCalls: Long,
      counts: Map[String, Long])

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Untimed warm-up after set-up, before the measured loop. */
  private val WarmupS = 6.0

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.names.contains(workload),
      s"unknown workload $workload (one of ${Workload.names.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val tmp = Paths.get(opts("tmp"))
    val spansOut = opts.get("spans").map(Paths.get(_))

    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = BenchProtocol.loadavg()
    val t0 = System.nanoTime()
    val spark = BenchProtocol.session(cores.toString, cores)
    val sessionS = secondsSince(t0)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val stats = new SparkStats(sc)
    val trace = new Trace(name => sc.setLocalProperty(SparkStats.SpanKey, name))
    val calls = sc.longAccumulator("segment_calls")
    val seg = CountingSegmentation(calls)
    val wl = Workload(workload, spark, tmp, seed, cores)

    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L

    /** One pipeline run: timed from input handle to committed output, then
      * the untimed check. None when it threw or failed the check.
      */
    def once(i: Int, tracedRun: Boolean): Option[Sample] = {
      attempted += 1
      try {
        val s0 = stats.snapshot()
        val c0 = calls.value
        val e0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val out =
          if (tracedRun) {
            trace.beginRun(i)
            val l = new Layers(trace)
            trace.span("pipeline")(wl.runTraced(i, seg, l))
          } else wl.run(i, seg)
        val wall = secondsSince(n0)
        val e1 = System.currentTimeMillis()
        val s1 = stats.snapshot()
        val c1 = calls.value
        val checked = try out.check() finally out.release()
        val records = s1.shuffleRecords - s0.shuffleRecords
        val haloErrors = wl.expectedRunRecords.filter(_ => !tracedRun)
          .filter(_ != records)
          .map(e => s"shuffle wrote $records records, the grid predicts $e").toSeq
        val problems = checked.errors ++ haloErrors
        if (problems.nonEmpty) {
          failed += 1
          errors ++= problems.map(p => s"run $i: $p")
          None
        } else Some(Sample(wall, s1.shuffleBytes - s0.shuffleBytes, records,
          out.bytes, s1.jobs - s0.jobs, s1.stages - s0.stages, s1.tasks - s0.tasks,
          (s1.taskMs - s0.taskMs) / 1e3, (s1.gcMs - s0.gcMs) / 1e3,
          s1.spillBytes - s0.spillBytes,
          ((e1 - e0) - stats.busyMs(e0, e1)) / 1e3, c1 - c0, checked.counts))
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"run $i threw $e"
          e.printStackTrace()
          None
      }
    }

    // set-up: session start, input staging (median of three builds), and
    // one warm-up run
    val stageS = median((0 until 3).map { k =>
      val s = System.nanoTime(); wl.stage(k); secondsSince(s)
    })
    val w0 = System.nanoTime()
    once(-1, tracedRun = false)
    val warmS = secondsSince(w0)
    val setupS = sessionS + stageS + warmS
    // more runs, checked but not timed, before measuring: the JIT and
    // Spark's generated code are still warming after the first
    val warmup = System.nanoTime()
    var k = 0
    while (k < 2 || secondsSince(warmup) < WarmupS) { once(-2 - k, tracedRun = false); k += 1 }
    stats.dropIntervalsBefore(System.currentTimeMillis())

    // heap in use right after the most recent collection (all heap pools):
    // the live set, which unlike the raw peak does not depend on when the
    // collector happened to run
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray.collect { case p: java.lang.management.MemoryPoolMXBean
        if p.getType == java.lang.management.MemoryType.HEAP => p.getName }.toSet
    def liveHeapMb: Double = gcs.flatMap(b => Option(b.getLastGcInfo)).maxByOption(_.getEndTime)
      .map(_.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6)
      .getOrElse(0.0)
    var heapPeakMb = 0.0

    def loop(budgetS: Double, tracedRun: Boolean, from: Int): Seq[Sample] = {
      val out = mutable.ArrayBuffer.empty[Sample]
      val start = System.nanoTime()
      var i = from
      while (i == from || secondsSince(start) < budgetS) {
        out ++= once(i, tracedRun)
        stats.dropIntervalsBefore(System.currentTimeMillis())
        if (!tracedRun) heapPeakMb = math.max(heapPeakMb, liveHeapMb)
        i += 1
      }
      out.toSeq
    }

    val plain = loop(if (traced) seconds / 2 else seconds, tracedRun = false, 0)
    stats.resetSpans()
    val tracedSamples =
      if (traced) loop(seconds / 2, tracedRun = true, plain.size + 1000) else Nil
    val tracedSpanShuffle = Seq("ops.prepare", "ops.merge", "ops.sort", "ops.sort_build")
      .map(n => n -> stats.spanShuffleOf(n)).toMap
    val kernels = if (traced) KernelTimes.measure(wl) else Map.empty[String, Double]
    val calib = if (traced) BenchProtocol.calibMin3(spark) else Double.NaN

    val px = wl.pixels.toDouble
    def med(f: Sample => Double, of: Seq[Sample] = plain): Double = median(of.map(f))

    println(s"workload $workload seed $seed cores $cores load_start ${fmt(loadStart)}" +
      (if (traced) s" calib_min3_s ${fmt(calib)}" else ""))
    println(s"setup ${fmt(setupS)} s: session ${fmt(sessionS)} s, staging " +
      s"${fmt(stageS)} s (median of 3), warm-up run ${fmt(warmS)} s")
    println(s"input ${wl.spec.imageShape.mkString("x")} px, chunks " +
      s"${wl.spec.chunk.mkString("x")}, overlap ${wl.overlaps.mkString("x")}, " +
      s"${wl.numTiles} tiles, ${wl.blobs.numObjects} objects")
    val rates = plain.map(s => px / s.wallS / 1e6)
    println(s"untraced runs ${plain.size}: mpx_per_s median ${fmt(median(rates))} " +
      s"min ${fmt(if (rates.isEmpty) Double.NaN else rates.min)} " +
      s"max ${fmt(if (rates.isEmpty) Double.NaN else rates.max)}; " +
      s"failed_frac ${fmt(failed.toDouble / attempted)} ($failed of $attempted)")
    println("run walls s: " + plain.map(s => fmt(s.wallS)).mkString(" "))
    errors.take(10).foreach(e => println(s"FAILED $e"))

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("mpx_per_s", median(rates), "Mpx/s"),
        ("setup_s", setupS, "s"),
        ("shuffle_bytes_per_px", med(_.shuffleBytes.toDouble) / px, "B/px"),
        ("output_bytes_per_px", med(_.outBytes.toDouble) / px, "B/px"))
      else {
        // layer self times: median over traced runs of each span's self time
        val bySpan = trace.selfSeconds.groupBy(_._1.name)
        val runs = tracedSamples.size.max(1)
        def selfS(name: String): Double =
          bySpan.get(name).map(xs => median(xs.map(_._2))).getOrElse(0.0)
        val layerNames = Seq("sources.read", "ops.prepare", "ops.segment",
          "ops.remove", "ops.merge", "ops.crop", "ops.sort_build", "ops.sort",
          "sources.write", "geojson.annotate", "geojson.zip", "pipeline")
          .filter(bySpan.contains)
        val plainWall = med(_.wallS)
        val tracedWall = med(_.wallS, tracedSamples)
        println(f"per-layer self time, traced runs ($runs), as a share of the " +
          f"untraced median wall ${fmt(plainWall)} s:")
        layerNames.foreach { n =>
          val label = if (n == "pipeline") "(between layer calls)" else n
          println(f"  $label%-22s ${fmt(selfS(n))} s  ${100 * selfS(n) / plainWall}%6.1f %%")
        }
        val layerSum = layerNames.filter(_ != "pipeline").map(selfS).sum
        println(s"  layers sum ${fmt(layerSum)} s; traced wall ${fmt(tracedWall)} s " +
          s"(tracing overhead ${fmt(tracedWall / plainWall - 1)} of untraced)")
        val (o1Records, o1Raw) = wl.haloExpected(parity = false)
        val (o4Records, o4Raw) =
          if (wl.segments) wl.haloExpected(parity = true) else (0L, 0L)
        val (expBytes, expRecords) = tracedSpanShuffle("ops.prepare")
        val (mrgBytes, mrgRecords) = tracedSpanShuffle("ops.merge")
        // the traced runs attribute each exchange to its layer call; the
        // grid predicts their records exactly
        Seq(("O1 expand", expRecords, o1Records), ("O4 merge", mrgRecords, o4Records))
          .foreach { case (ex, got, want) =>
            if (got != want * runs) {
              failed += 1
              errors += s"$ex wrote ${got.toDouble / runs} records per run, the grid predicts $want"
              println(s"FAILED $ex records ${got.toDouble / runs} per run, grid predicts $want")
            }
          }
        println(s"  O1 expand: $o1Records records, shuffle ${expBytes / runs} B against " +
          s"$o1Raw B of raw int64 shard payload (ratio ${fmt(expBytes.toDouble / runs / o1Raw)})")
        if (wl.segments)
          println(s"  O4 merge: $o4Records records, shuffle ${mrgBytes / runs} B against " +
            s"$o4Raw B of raw int64 shard payload (ratio ${fmt(mrgBytes.toDouble / runs / o4Raw)})")
        val sortBytes = tracedSpanShuffle("ops.sort")._1 + tracedSpanShuffle("ops.sort_build")._1
        def count(n: String): Double = {
          val xs = tracedSamples.flatMap(_.counts.get(n)) ++ plain.flatMap(_.counts.get(n))
          if (xs.isEmpty) 0.0 else median(xs.map(_.toDouble))
        }
        val readS = selfS("sources.read")
        val readBytes = wl.inputBytes.toDouble
        println(s"  sources.read_s ${fmt(readS)} sources.read_mb_s " +
          s"${fmt(if (readS > 0) readBytes / readS / 1e6 else 0.0)} " +
          s"sources.write_s ${fmt(selfS("sources.write"))} " +
          s"geojson.annotate_s ${fmt(selfS("geojson.annotate"))} " +
          s"geojson.zip_s ${fmt(selfS("geojson.zip"))} " +
          s"ops.sort_build_s ${fmt(selfS("ops.sort_build"))}")
        Seq(
          ("ops.prepare_s", selfS("ops.prepare"), "s"),
          ("ops.remove_s", selfS("ops.remove"), "s"),
          ("trace.overhead_frac", tracedWall / plainWall - 1, "frac"),
          ("trace.layer_share", layerSum / plainWall, "frac"),
          ("sources.read_bytes", readBytes, "B"),
          ("sources.chunks_read", count("sources.chunks_read"), "count"),
          ("sources.chunks_written", count("sources.chunks_written"), "count"),
          ("sources.write_bytes", count("sources.write_bytes"), "B"),
          ("ops.expand_shuffle_records", expRecords.toDouble / runs, "count"),
          ("ops.expand_shuffle_bytes", expBytes.toDouble / runs, "B"),
          ("ops.expand_raw_bytes", o1Raw.toDouble, "B"),
          ("ops.expand_shuffle_ratio", expBytes.toDouble / runs / o1Raw, "frac"),
          ("ops.merge_shuffle_records", mrgRecords.toDouble / runs, "count"),
          ("ops.merge_shuffle_bytes", mrgBytes.toDouble / runs, "B"),
          ("ops.merge_raw_bytes", o4Raw.toDouble, "B"),
          ("ops.merge_shuffle_ratio",
            if (o4Raw > 0) mrgBytes.toDouble / runs / o4Raw else 0.0, "frac"),
          ("ops.sort_shuffle_bytes", sortBytes.toDouble / runs, "B"),
          ("ops.objects_dropped", count("ops.objects_dropped"), "count"),
          ("ops.objects_split", count("ops.objects_split"), "count"),
          ("ops.pixels_lost", count("ops.pixels_lost"), "count"),
          ("ops.segment_calls_per_tile", med(_.segCalls.toDouble) / wl.numTiles, "count"),
          ("geojson.features", count("geojson.features"), "count"),
          ("geojson.objects_dropped", count("geojson.objects_dropped"), "count"),
          ("geojson.zip_bytes", count("geojson.zip_bytes"), "B"),
          ("spark.jobs", med(_.jobs.toDouble), "count"),
          ("spark.stages", med(_.stages.toDouble), "count"),
          ("spark.tasks", med(_.tasks.toDouble), "count"),
          ("spark.task_time_s", med(_.taskS), "s"),
          // mean, not median: most runs see no collection during a task
          ("spark.gc_s", plain.map(_.gcS).sum / plain.size.max(1), "s"),
          ("spark.spill_bytes", med(_.spillBytes.toDouble), "B"),
          ("spark.driver_only_s", med(_.driverOnlyS), "s"),
          ("spark.core_util", med(s => s.taskS / (s.wallS * cores)), "frac"),
          ("jvm.heap_peak_mb", heapPeakMb, "MB")) ++
          kernels.toSeq.sortBy(_._1).map { case (n, v) => (n, v, "ns/px") }
      }

    spansOut.filter(_ => traced).foreach(trace.write)
    spark.stop()

    val correct = failed == 0 && plain.nonEmpty
    val body = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    metrics.foreach { case (n, v, u) => println(f"  $n%-28s $v%s $u") }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }
}
