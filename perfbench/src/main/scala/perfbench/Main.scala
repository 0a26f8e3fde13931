package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client on local[cores] issues the next
  * operation only after the previous one finished and was checked.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --run-dir DIR --result FILE --stamp FILE [--trace-out FILE]
  *
  * --trace 0 sets the workload up several times (setup_s is the median),
  * then runs operations until S seconds of operation time have passed and
  * writes the end-to-end metrics to FILE. --trace 1 is the separate traced
  * run: it alternates untraced and traced operations and writes the
  * per-layer metrics, plus every span to the --trace-out file. Nothing is
  * written to the result file when set-up fails. */
object Main {

  val SetupReps = 3
  /** Operations a warming workload runs after set-up and before its window:
    * JIT of the driver and executor paths takes about a dozen operations to
    * settle, and a window opened earlier reads that as run-to-run noise. A
    * count, not a time, so a slow host does not open its window less warm. */
  val WarmUpOps = 12

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "1/s", "points_per_s" -> "1/s",
    "op_p50_s" -> "s", "op_tail_s" -> "s", "ok_ratio" -> "ratio", "heap_peak_mb" -> "MB")

  /** Spans recorded around public engine calls; each also reports the five
    * task statistics of the listener. */
  val Spans: Seq[String] = Seq(
    "spatialjoin.extract", "spatialjoin.cover", "spatialjoin.join",
    "spatialjoin.aggregate", "spatialjoin.radius", "knn", "cluster", "dedup", "textops",
    "checkpoint.commit", "tiler", "streams.tick")
  val SpanStats: Seq[(String, String)] = Seq("shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "gc_s" -> "s", "tasks" -> "count", "task_skew" -> "ratio")

  val PerLayer: Seq[(String, String)] =
    Seq("core.parse_ns" -> "ns", "core.cover_ms" -> "ms", "core.pip_ns" -> "ns",
      "core.haversine_ns" -> "ns",
      "spatialjoin.extract.parse_yield" -> "ratio", "spatialjoin.cover.cells" -> "count",
      "spatialjoin.cover.levels" -> "count", "spatialjoin.join.candidates" -> "count",
      "spatialjoin.join.refine_yield" -> "ratio", "spatialjoin.radius.pairs" -> "count",
      "cluster.pairs" -> "count", "durable.bytes_written" -> "bytes", "dedup.pairs" -> "count",
      "streams.tick_self_s" -> "s", "streams.tick_late_over_early" -> "ratio",
      "streams.delta_files" -> "count",
      "trace.overhead_s" -> "s", "trace.attributed_share" -> "ratio") ++
      Spans.filterNot(s => s == "checkpoint.commit" || s == "streams.tick").map(s => s"$s.self_s" -> "s") ++
      StagedPipeline.Stages.flatMap(st => Seq(s"checkpoint.commit_s.$st" -> "s",
        s"checkpoint.resume_s.$st" -> "s", s"checkpoint.files_written.$st" -> "count",
        s"checkpoint.dirs_written.$st" -> "count", s"checkpoint.bytes_written.$st" -> "bytes")) ++
      Spans.flatMap(s => SpanStats.map { case (k, u) => s"$s.$k" -> u })

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = o("workload")
    val workload = Workloads.all.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val runDir = new File(o("run-dir"))
    val master = s"local[$cores]"

    val t0 = System.nanoTime()
    def note(msg: String): Unit =
      System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(runDir, "checkpoint").getPath)
    graft.expr.GraftFunctions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    note(s"session up on $master")

    val plain = new Tracer(spark, enabled = false)
    var p0: Option[Prepared] = None
    // operations of the current phase; set-up and warm-up operations are
    // counted apart from the window's, and any failure among them fails
    // the run
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var heapPeak = 0L
    // heap is sampled in the window only, after its first and its last
    // operation (the heap after GC barely moves between operations of a
    // run, and a sample takes over a second); every other window operation
    // is followed by one full GC, so every operation starts on an emptied
    // heap
    var inWindow = false
    // a full GC hands the context cleaner the broadcasts, shuffles and
    // cached blocks the operation left unreachable, and the cleaner drops
    // them up to about half a second later; GCs 250 ms apart repeat until
    // three in a row free no more than 1 MB, so the reading does not
    // depend on how far the cleaner got
    var gcRoundsMax = 0
    def heapAfterGc(): Unit = {
      def usedAfterGc(): Long = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
      var low = usedAfterGc()
      var quiet = 0
      var rounds = 1
      while (quiet < 3 && rounds < 16) {
        Thread.sleep(250)
        val used = usedAfterGc()
        rounds += 1
        quiet = if (used < low - (1L << 20)) 0 else quiet + 1
        low = math.min(low, used)
      }
      gcRoundsMax = math.max(gcRoundsMax, rounds)
      heapPeak = math.max(heapPeak, low)
    }
    // the longest operation so far, check and GC included
    var longestOp = 0.0
    /** One checked operation; None when it threw. */
    def attempt(tr: Tracer, id: Int): Option[OpResult] = {
      attempted += 1
      val a0 = System.nanoTime()
      val r =
        try Some(tr.operation(id, s"op.$name")(p0.get.op(tr)))
        catch { case e: Exception => failures += s"op $id threw: $e"; None }
      val bad = r.fold[Option[String]](Some("threw"))(x =>
        try x.check() catch { case e: Exception => Some(s"check threw: $e") })
      bad.foreach { b => failed += 1; if (r.isDefined) failures += s"op $id: $b" }
      tr.release()
      if (inWindow) { if (attempted == 1) heapAfterGc() else System.gc() }
      longestOp = math.max(longestOp, (System.nanoTime() - a0) / 1e9)
      r.filter(_ => bad.isEmpty)
    }

    // set-up, repeated: each repetition generates the inputs from the seed
    // into a fresh directory, builds the one-time structures, computes the
    // oracle and, for workloads that warm up, runs one checked operation;
    // setup_s is the median. The last repetition's state is kept. The
    // traced run sets up once.
    val reps = if (traced) 1 else SetupReps
    val setupTimes = (1 to reps).map { i =>
      p0.foreach(_.close())
      val s0 = System.nanoTime()
      p0 = Some(workload.prepare(new Ctx(spark, new File(runDir, s"setup$i"), seed, cores)))
      if (p0.get.warmUp) attempt(plain, 0)
      val s = (System.nanoTime() - s0) / 1e9
      note(f"set-up $i took $s%.2fs")
      if (i > 1) Workloads.deleteTree(new File(runDir, s"setup${i - 1}").getPath)
      s
    }
    val p = p0.get
    var warmed = 0.0
    var warmId = -1
    while (!traced && p.warmUp && -warmId <= WarmUpOps) {
      val w0 = System.nanoTime()
      attempt(plain, warmId)
      warmed += (System.nanoTime() - w0) / 1e9
      warmId -= 1
    }

    heapAfterGc()
    heapPeak = 0L
    inWindow = true
    val setupAttempted = attempted
    val setupFailed = failed
    attempted = 0
    failed = 0
    // no operation starts that would, at the length of the longest one so
    // far, end after this point, so a slow host still ends the run inside
    // its 180 s limit
    def wallLeft: Boolean = (System.nanoTime() - t0) / 1e9 + longestOp < 120
    val lat = mutable.ArrayBuffer.empty[Double]
    var busy = 0.0
    var workS = 0.0
    var docsDone = 0L
    var pointsDone = 0L
    val summaries = mutable.ArrayBuffer.empty[Map[String, Double]]
    val stamp = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "nproc" -> cores, "master" -> master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_start_s" -> sessionS, "setup_s_samples" -> setupTimes, "warm_up_s" -> warmed,
      "setup_ops_attempted" -> setupAttempted, "setup_ops_failed" -> setupFailed)
    p.sizes.foreach { case (k, v) => stamp(s"input_$k") = v }

    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        var id = 1
        while ((busy < seconds || lat.isEmpty) && wallLeft) {
          val t = System.nanoTime()
          attempt(plain, id) match {
            case Some(r) =>
              lat += r.seconds; busy += r.seconds; workS += r.workSeconds
              docsDone += p.docs; pointsDone += p.points
              summaries += r.summary
            case None => busy += (System.nanoTime() - t) / 1e9
          }
          id += 1
        }
        if (attempted > 1) heapAfterGc()
        val (tail, pct, n) = Stats.tail(lat.toSeq)
        stamp("op_latencies_s") = lat.toSeq
        stamp("heap_gc_rounds_max") = gcRoundsMax
        stamp("op_tail_percentile") = pct
        stamp("op_tail_samples_beyond") = n
        summaries.flatMap(_.keys).distinct.foreach { k =>
          stamp(k) = Stats.median(summaries.flatMap(_.get(k)).toSeq)
        }
        val v = Map(
          "setup_s" -> Stats.median(setupTimes),
          "docs_per_s" -> (if (workS > 0) docsDone / workS else 0.0),
          "points_per_s" -> (if (workS > 0) pointsDone / workS else 0.0),
          "op_p50_s" -> Stats.median(lat.toSeq),
          "op_tail_s" -> tail,
          "ok_ratio" -> (attempted - failed).toDouble / attempted,
          "heap_peak_mb" -> heapPeak / 1048576.0)
        EndToEnd.map { case (k, u) => (k, u, v(k)) }
      } else {
        // Traced and untraced operations alternate. A warmed-up workload
        // starts with a traced one; one that times its first operation in a
        // fresh JVM starts with an untraced one, so its untraced layer
        // counts come from the same cold operation the timed run measures.
        // The overhead compares traced operations with the untraced ones
        // that ran after a traced one, at the same JIT warmth; without such
        // an operation (a staged_pipeline operation is too long for a third
        // one in the run limit) it is not measured, reads 0, and the stamp
        // says so. The first traced operation always runs.
        val tr = new Tracer(spark, enabled = true)
        var coldPlainOps = 0
        val plainLat = mutable.ArrayBuffer.empty[Double]
        val tracedLat = mutable.ArrayBuffer.empty[Double]
        val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
        val plainLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
        var replayBasis = false
        var tracedTried = false
        var id = 1
        while ((busy < seconds || plainLat.isEmpty) && (wallLeft || !tracedTried)) {
          val t = System.nanoTime()
          if ((id % 2 == 1) != p.warmUp) attempt(plain, id).foreach { r =>
            replayBasis ||= r.replayedSeconds.isDefined
            if (tracedTried) plainLat += r.replayedSeconds.getOrElse(r.seconds)
            else coldPlainOps += 1
            plainLayers += r.layer
          }
          else {
            tracedTried = true
            attempt(tr, id)
          }.foreach { r =>
            tracedLat += r.seconds
            org.apache.spark.BusDrain(spark.sparkContext)
            perOp += opLayers(tr, id) ++ r.layer
          }
          busy += (System.nanoTime() - t) / 1e9
          id += 1
        }
        val counts = p.layerCounts()
        val v = mutable.Map.empty[String, Double]
        PerLayer.foreach { case (k, _) =>
          val xs = (perOp ++ plainLayers).flatMap(_.get(k)).toSeq
          v(k) = if (xs.nonEmpty) Stats.median(xs) else counts.getOrElse(k, 0.0)
        }
        v("trace.overhead_s") =
          if (plainLat.isEmpty || tracedLat.isEmpty) 0.0
          else Stats.median(tracedLat.toSeq) - Stats.median(plainLat.toSeq)
        v("trace.attributed_share") =
          if (perOp.isEmpty) 0.0 else perOp.map(_("trace.attributed_share")).min
        // a traced operation that replays part of the untraced one (the
        // staged pipeline's stages) is compared with that part, a different
        // code path, and the stamp says so
        stamp("trace_overhead_basis") =
          if (replayBasis) "traced replay minus the untraced run's replayed part"
          else "traced minus untraced operation"
        stamp("ops_traced") = tracedLat.length
        stamp("ops_untraced") = coldPlainOps + plainLat.length
        if (plainLat.isEmpty) stamp("trace_overhead_basis") =
          "not measured: no untraced operation ran after a traced one within the run limit"
        o.get("trace-out").foreach(f => writeTrace(f, tr, stamp, v))
        PerLayer.map { case (k, u) => (k, u, v(k)) }
      }

    note(s"window done: $attempted operations attempted, $failed failed")
    p.close()
    if (attempted == 0) {
      System.err.println("[perfbench] no operation ran inside the window; no result")
      spark.stop()
      sys.exit(1)
    }
    stamp("failures") = failures.take(5).toSeq
    val metricsJson = metrics.map { case (k, u, x) =>
      s""""$k":{"value":${num(x)},"unit":"$u"}""" }.mkString("{", ",", "}")
    write(o("stamp"), json(stamp.toSeq))
    write(o("result"),
      s"""{"correct":${failed == 0 && setupFailed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}""")
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
  }

  /** Layer metrics of one traced operation: self time and task statistics
    * per span name, and the share of the operation covered by its spans. */
  def opLayers(tr: Tracer, id: Int): Map[String, Double] = {
    val inOp = tr.spans.filter(_.op == id)
    val root = inOp.find(_.parent == -1).get
    val out = mutable.Map.empty[String, Double]
    Spans.foreach { s =>
      val recs = inOp.filter(_.name == s)
      if (recs.nonEmpty) {
        if (s == "streams.tick") out("streams.tick_self_s") = Stats.median(recs.map(tr.selfSeconds).toSeq)
        else out(s"$s.self_s") = recs.map(tr.selfSeconds).sum
        tr.listener.stats(recs.map(_.id).toSeq).foreach { case (k, x) => out(s"$s.$k") = x }
      }
    }
    out("trace.attributed_share") = 1.0 - tr.selfSeconds(root) / tr.seconds(root)
    out.toMap
  }

  def writeTrace(path: String, tr: Tracer, stamp: collection.Map[String, Any],
                 metrics: collection.Map[String, Double]): Unit = {
    val base = tr.spans.headOption.fold(0L)(_.start)
    val spans = tr.spans.map { r =>
      val st = tr.listener.stats(Seq(r.id))
      json(Seq("id" -> r.id, "name" -> r.name, "parent" -> r.parent, "op" -> r.op,
        "start_s" -> (r.start - base) / 1e9, "end_s" -> (r.end - base) / 1e9,
        "self_s" -> tr.selfSeconds(r)) ++ st.toSeq)
    }
    write(path, s"""{"stamp":${json(stamp.toSeq)},"metrics":${json(metrics.toSeq.sortBy(_._1))},""" +
      s""""spans":${spans.mkString("[", ",\n", "]")}}""")
  }

  def num(x: Double): String = if (x.isNaN || x.isInfinite) "0" else x.toString

  def json(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => s""""$k":${value(v)}""" }
    .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double => num(d)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8))
}
