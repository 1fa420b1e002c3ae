package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: start the session, build the
  * fixture (several times; the median counts), warm up, then issue the
  * workload's requests in a closed loop for the given seconds and write
  * the result record as JSON. `run.py` builds the classpath, generates
  * the input tables and launches this.
  *
  *   perfbench.Main --workload assess|table_churn|vector_serve --seed N
  *     --seconds S --trace 0|1 --data DIR --sf LABEL --work DIR --out FILE
  *     [--expected TSV] [--spans FILE]
  */
object Main {
  /** Fixture builds per run; the median counts toward set-up. */
  private val Builds = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val host = hostFingerprint(work)
    val t0 = System.nanoTime()
    val spark = session(cpus, work, a.getOrElse("trace", "0") == "1")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, a, cpus, host, sessionS)
    finally spark.stop()
  }

  /** The session settings of the engine's own bench harness; a traced
    * run also counts local filesystem calls.
    */
  def session(cpus: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, a: Map[String, String], cpus: Int,
      host: Seq[(String, String)], sessionS: Double): Unit = {
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, a("data"), a("sf"), a("seed").toLong,
      a.get("expected").map(loadExpected).getOrElse(Map.empty))
    val wl: Workload = a("workload") match {
      case "assess" => new AssessWorkload(ctx)
      case "table_churn" => new TableChurnWorkload(ctx)
      case "vector_serve" => new VectorServeWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def timed(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    var error: Option[String] = None
    var loopS = 0.0
    var setupS = Double.NaN
    val cycles = mutable.ArrayBuffer[Double]()
    val setupParts = mutable.LinkedHashMap[String, String](
      "session_s" -> Json.num(sessionS))
    try {
      // set-up: build the fixture several times (the median counts), then
      // warm up on the last one, so JIT, codegen and first footer reads
      // land in set-up, not in the timed loop
      val buildS = (1 to Builds).map { i =>
        if (i > 1) rmTree(s"$work/store")
        timed(wl.build(s"$work/store"))
      }
      wl.reset()
      val warmS = timed(wl.warm())
      setupS = sessionS + Stats.median(buildS) + warmS
      setupParts("build_s") = buildS.map(Json.num).mkString("[", ", ", "]")
      setupParts("warm_s") = Json.num(warmS)
      tracer.startLoop()
      val l0 = System.nanoTime()
      do cycles += timed(wl.cycle())
      while ((System.nanoTime() - l0) / 1e9 < seconds)
      loopS = (System.nanoTime() - l0) / 1e9
    } catch {
      case e: Throwable =>
        error = Some(e.toString + Option(e.getCause).fold("")(c => s" / $c"))
    } finally tracer.endLoop()

    val e2e = mutable.LinkedHashMap[String, Double]()
    val tails = mutable.LinkedHashMap[String, String]()
    e2e("setup_s") = setupS
    // a qualified op ("scorecard.serving") also counts toward its base op
    val bases = tracer.samples.toSeq.collect {
      case (op, xs) if op.contains('.') => op.takeWhile(_ != '.') -> xs.toSeq
    }.groupBy(_._1).map { case (b, kv) => b -> kv.flatMap(_._2) }
    (tracer.samples.toSeq.map { case (k, v) => k -> v.toSeq } ++ bases)
        .foreach { case (op, xs) if !op.startsWith("check") =>
      e2e(s"${op}_s.p50") = Stats.median(xs)
      Stats.tail(xs).foreach { case (p, v) =>
        e2e(s"${op}_s.tail") = v
        tails(op) = Json.obj(Seq("pct" -> p.toString,
          "count" -> xs.length.toString))
      }
      case _ =>
    }
    if (cycles.nonEmpty) e2e("cycle_s") = Stats.median(cycles.toSeq)
    wl.extra.foreach { case (k, v) => e2e(k) = v }
    e2e("failed_frac") = (ctx.failed + error.size).toDouble /
      math.max(1L, math.max(ctx.attempted, ctx.failed + error.size))
    e2e("peak_rss_mb") = peakRssMb()

    val layerOut = if (traced && error.isEmpty) layerRecord(tracer, loopS,
      a.get("spans")) else Seq.empty
    tracer.close()
    val failed = ctx.failed + error.size
    val rec = Seq(
      "workload" -> Json.str(a("workload")),
      "seed" -> a("seed"),
      "traced" -> traced.toString,
      "correct" -> (failed == 0 && ctx.attempted > 0).toString,
      "attempted" -> math.max(ctx.attempted, failed).toString,
      "failed" -> failed.toString,
      "errors" -> (error.toSeq ++ ctx.errors).map(Json.str)
        .mkString("[", ", ", "]"),
      "loop_s" -> Json.num(loopS),
      "samples" -> Json.obj(tracer.samples.toSeq.map { case (k, xs) =>
        k -> xs.map(Json.num).mkString("[", ", ", "]") }),
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "tails" -> Json.obj(tails.toSeq),
      "setup" -> Json.obj(setupParts.toSeq),
      "host" -> Json.obj(host ++ Seq(
        "cpus" -> cpus.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "spark_version" -> Json.str(spark.version)))) ++ layerOut
    Files.write(Paths.get(a("out")), (Json.obj(rec) + "\n").getBytes(UTF_8))
  }

  /** Per-op layer numbers as means per call (self only), the serial
    * check timings by factor, op-span coverage of the loop, and the raw
    * spans written to `spansPath`.
    */
  private def layerRecord(t: Tracer, loopS: Double,
      spansPath: Option[String]): Seq[(String, String)] = {
    val (layers, unattributed) = t.layers()
    val out = mutable.LinkedHashMap[String, Double]()
    def put(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val ops = Seq("scorecard", "merge", "read_plan", "read", "compact",
      "load", "topk", "publish")
    val calls = layers.groupBy(_.span.name).map { case (k, v) => k -> v.size }
    ops.foreach { op =>
      val ls = layers.filter(l => l.span.name == op ||
        l.span.name.startsWith(op + "."))
      val n = math.max(1, ls.size).toDouble
      put(s"$op.jobs", ls.map(_.jobs).sum / n)
      put(s"$op.job_s", ls.map(_.jobS).sum / n)
      put(s"$op.driver_s", ls.map(l => math.max(0.0, l.wallS - l.jobS)).sum / n)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        put(s"$op.${ph}_s", ls.map(_.phaseS.getOrElse(ph, 0.0)).sum / n)
      }
      put(s"$op.tasks", ls.map(_.tasks).sum / n)
      put(s"$op.shuffle_bytes", ls.map(_.shuffleBytes).sum / n)
      FsStats.Fields.zipWithIndex.foreach { case (f, i) =>
        put(s"$op.$f", ls.map(_.fs(i)).sum / n)
      }
    }
    val passes = math.max(1, calls.getOrElse("checks", 0)).toDouble
    (1 to 5).foreach(f => put(s"checks.f${f}_s", layers
      .filter(_.span.name == s"check.f$f").map(_.span.durS).sum / passes))
    put("checks.jobs", layers.filter(_.span.name.startsWith("check"))
      .map(_.jobs).sum / passes)
    val top = layers.filter(_.span.parent < 0).map(_.span.durS).sum
    val selfTime = layers.groupBy(_.span.name).toSeq.sortBy(_._1).map {
      case (k, v) => k -> Json.num(v.map(_.wallS).sum / v.size) }
    spansPath.foreach { p =>
      val lines = layers.map { l =>
        Json.obj(Seq("id" -> l.span.id.toString, "name" -> Json.str(l.span.name),
          "parent" -> l.span.parent.toString, "req" -> l.span.req.toString,
          "start_ms" -> Json.num(l.span.startMs), "end_ms" -> Json.num(l.span.endMs),
          "self_s" -> Json.num(l.wallS), "jobs" -> l.jobs.toString,
          "job_s" -> Json.num(l.jobS)))
      }
      Files.write(Paths.get(p), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Seq(
      "per_layer" -> Json.obj(out.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "op_calls" -> Json.obj(calls.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "self_s" -> Json.obj(selfTime),
      "span_coverage" -> Json.num(if (loopS > 0) top / loopS else 0.0),
      "unattributed_jobs" -> unattributed.toString)
  }

  private def rmTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
  }

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** nproc, launch load1 and a 32 MiB forced-write disk probe in the
    * work directory (the same probe the engine's bench harness runs).
    */
  private def hostFingerprint(work: String): Seq[(String, String)] = {
    val load1 = try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
        UTF_8).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val mbps = try {
      val f = Files.createTempFile(Paths.get(work), "probe", ".bin")
      try {
        val ch = java.nio.channels.FileChannel.open(f,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val buf = java.nio.ByteBuffer.allocate(1 << 20)
          val t = System.nanoTime()
          (0 until 32).foreach { _ =>
            buf.rewind()
            while (buf.hasRemaining) ch.write(buf)
          }
          ch.force(true)
          32.0 / ((System.nanoTime() - t) / 1e9)
        } finally ch.close()
      } finally Files.deleteIfExists(f)
    } catch { case _: Throwable => -1.0 }
    Seq("nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "load1" -> Json.num(load1), "disk_probe_mbps" -> Json.num(mbps))
  }

  private def loadExpected(path: String): Map[(String, String, String), Double] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(sf, w, key, v) = l.split("\t")
        (sf, w, key) -> v.toDouble
      }.toMap
}
