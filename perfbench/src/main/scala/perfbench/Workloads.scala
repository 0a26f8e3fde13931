package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.core.{Cells, Dist, Parsers}
import graft.engine._
import graft.streaming.Streams

/** Run-scoped context: the session, the run directory every input and
  * output lives under, the seed and the core count. */
final class Ctx(val spark: SparkSession, val root: File, val seed: Long, val cores: Int) {
  private var n = 0
  def newDir(tag: String): String = {
    n += 1
    val d = new File(root, s"$tag-$n")
    d.mkdirs()
    d.getPath
  }
}

/** What one operation reports back. `seconds` is its latency; `workSeconds`
  * is the part its docs/points throughput is charged to; `check` compares
  * the collected output with the oracle (None = correct) and runs after the
  * latency is taken; `layer` carries per-operation layer counts for the
  * traced run; `replayedSeconds` is set when the traced form of the
  * operation replays only part of it, and is that part's latency. */
final case class OpResult(seconds: Double, workSeconds: Double,
                          check: () => Option[String],
                          layer: Map[String, Double] = Map.empty,
                          summary: Map[String, Double] = Map.empty,
                          replayedSeconds: Option[Double] = None)

/** A workload after set-up: inputs on disk, one-time structures built, the
  * oracle computed. */
trait Prepared {
  /** Whether each set-up ends with one checked warm-up operation and the
    * window waits for a warm-up phase. Workloads whose operation is a whole
    * batch job instead time their first operation in a fresh JVM, JIT and
    * code generation included. */
  def warmUp: Boolean
  def docs: Long
  def points: Long
  def sizes: Seq[(String, Long)]
  def op(tr: Tracer): OpResult
  /** Traced run only: kernel costs and layer counts that do not depend on
    * the operation (each is deterministic for the inputs). */
  def layerCounts(): Map[String, Double]
  def close(): Unit
}

trait Workload {
  def prepare(ctx: Ctx): Prepared
}

object Workloads {

  val all: Map[String, Workload] = Map(
    "hot_join" -> HotJoin, "neighbours" -> Neighbours, "staged_pipeline" -> StagedPipeline)

  val Level: Int = SpatialJoin.DefaultLevel

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def writeDocs(ctx: Ctx, docs: Seq[Doc], files: Int): String = {
    val path = ctx.newDir("docs") + "/parquet"
    ctx.spark.createDataset(ctx.spark.sparkContext.parallelize(docs, files))(Encoders.product[Doc])
      .write.parquet(path)
    path
  }

  def writeParquet[T <: Product : scala.reflect.runtime.universe.TypeTag : scala.reflect.ClassTag](
      ctx: Ctx, tag: String, rows: Seq[T]): String = {
    val path = ctx.newDir(tag) + "/parquet"
    ctx.spark.createDataset(ctx.spark.sparkContext.parallelize(rows, 1))(Encoders.product[T])
      .write.parquet(path)
    path
  }

  /** Per-polygon (distinct docs, points): the aggregate every join
    * workload collects in full. */
  def perPolygon(joined: DataFrame): DataFrame =
    joined.groupBy(col("poly_id"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_points"))

  def asCounts(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  def diff(what: String, got: Map[String, (Long, Long)],
           want: Map[String, (Long, Long)]): Option[String] =
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).toSeq.sorted
      Some(s"$what: ${bad.size} polygons differ, e.g. ${bad.head}: " +
        s"got ${got.get(bad.head)} want ${want.get(bad.head)}")
    }

  /** Mean nanoseconds per call of `f` over `n` inputs, after one warm pass,
    * repeating the pass until at least 0.2 s has been measured. */
  def nsPerCall(n: Int)(f: Int => Unit): Double =
    if (n == 0) 0.0
    else {
      var i = 0
      while (i < n) { f(i); i += 1 }
      var calls = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) {
        i = 0
        while (i < n) { f(i); i += 1 }
        calls += n
      }
      (System.nanoTime() - t0).toDouble / calls
    }

  /** Candidate (point, polygon) pairs a covering admits: covering cells
    * that are a prefix of the point's cell. */
  def candidates(cells: Array[Row], levels: Array[Int], pts: Array[Oracle.Pt]): Long = {
    val byCell = cells.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    pts.iterator.map { p =>
      val c = Cells.cell(p.lat, p.lon, Level)
      levels.iterator.map(l => byCell.getOrElse(c.substring(0, l), 0L)).sum
    }.sum
  }

  def parseNs(spans: Array[String]): Double =
    nsPerCall(spans.length)(i => Parsers.parsePoint(spans(i)))

  def coverMs(rings: Array[Array[Double]]): Double =
    nsPerCall(rings.length)(i => Cells.coverRingAdaptive(rings(i), Level,
      SpatialJoin.MaxCellsPerPolygon)) / 1e6

  /** PIP cost over the bbox-passing (point, polygon) pairs, capped at 200k. */
  def pipNs(idx: Oracle.LatIndex, shapes: Seq[Oracle.Shape]): Double = {
    val pairs = shapes.iterator.flatMap { s =>
      val (from, until) = idx.range(s.bbox(0), s.bbox(2))
      (from until until).iterator.map(idx.sorted(_))
        .filter(p => p.lon >= s.bbox(1) && p.lon <= s.bbox(3)).map(p => (p, s))
    }.take(200000).toArray
    nsPerCall(pairs.length) { i => val (p, s) = pairs(i); s.contains(p.lat, p.lon) }
  }

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** (bytes, files, dirs) under a directory tree. */
  def treeSize(path: String): (Long, Long, Long) = {
    var b = 0L; var f = 0L; var d = 0L
    def walk(x: File): Unit =
      if (x.isDirectory) { d += 1; Option(x.listFiles()).foreach(_.foreach(walk)) }
      else { f += 1; b += x.length() }
    walk(new File(path))
    (b, f, math.max(0L, d - 1))
  }

  /** Local-filesystem bytes written by this JVM so far (Hadoop FS
    * statistics for the file scheme). */
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue)).getOrElse(0L)
}

import Workloads._

/** Production read path: stored skewed corpus -> extractPoints ->
  * joinRangeWithIndex against a 50-polygon broadcast layer whose index is
  * built once -> per-polygon distinct-doc aggregate, collected in full. */
object HotJoin extends Workload {
  val NDocs = 12000

  def prepare(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val corpus = Inputs.docs(ctx.seed, 1, NDocs, Inputs.hubPoint)
    val layer = Inputs.hubLayer(ctx.seed)
    val docsPath = writeDocs(ctx, corpus, 4 * ctx.cores)
    val polysPath = writeParquet(ctx, "polys", layer)
    val index = SpatialJoin.buildIndex(spark.read.parquet(polysPath), cache = true)
    val pts = Oracle.extract(corpus)
    val spans = Oracle.textSpans(corpus)
    val latIdx = new Oracle.LatIndex(pts)
    val shapes = layer.map(Oracle.shape)
    val want = Oracle.polyCounts(latIdx, shapes)
    new Prepared {
      def warmUp = true
      def docs: Long = NDocs
      def points: Long = pts.length
      def sizes = Seq("docs" -> NDocs.toLong, "points" -> pts.length.toLong,
        "polygons" -> layer.length.toLong)
      def op(tr: Tracer): OpResult = {
        val (rows, s) = timed {
          val d = spark.read.parquet(docsPath)
          val p = tr.span("spatialjoin.extract")(tr.materialize(SpatialJoin.extractPoints(d)))
          val j = tr.span("spatialjoin.join")(tr.materialize(SpatialJoin.joinRangeWithIndex(p, index)))
          tr.span("spatialjoin.aggregate")(perPolygon(j).collect())
        }
        OpResult(s, s, () => diff("per-polygon counts", asCounts(rows), want))
      }
      def layerCounts(): Map[String, Double] = {
        val cand = candidates(index.cells.collect(), index.levels, pts)
        Map("core.parse_ns" -> parseNs(spans),
          "core.cover_ms" -> coverMs(shapes.map(_.ring).toArray),
          "core.pip_ns" -> pipNs(latIdx, shapes),
          "spatialjoin.extract.parse_yield" -> pts.length.toDouble / spans.length,
          "spatialjoin.cover.cells" -> index.cells.count().toDouble,
          "spatialjoin.cover.levels" -> index.levels.length.toDouble,
          "spatialjoin.join.candidates" -> cand.toDouble,
          "spatialjoin.join.refine_yield" -> want.values.map(_._2).sum.toDouble / cand)
      }
      def close(): Unit = { index.cells.unpersist(); index.rings.unpersist() }
    }
  }
}

/** The fixed-radius family over hub-skewed points with polar and
 * antimeridian sites: Knn.knn, SpatialJoin.withinDistance and uncapped
 * Cluster.dbscan, each result collected in full. */
object Neighbours extends Workload {
  val NDocs = 3000
  val NHubSites = 40
  val K = 8
  val RadiusM = 2000.0
  val EpsM = 300.0
  val MinPts = 8
  /** kNN queries leave out the polar sites. Knn has no lat-band arm: a
    * polar query rings out to maxRounds before its brute-force residual,
    * several extra rounds of Spark jobs per operation that do not fit the
    * run budget. The polar sites still drive withinDistance's lat-band
    * arm, and polar points drive dbscan's. */
  val KnnMaxAbsLat = 80.0

  def prepare(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    import spark.implicits._
    val sites = Inputs.sites(ctx.seed, NHubSites)
    val edge = sites.filter(_._1.startsWith("e")).map(s => (s._2, s._3))
    val corpus = Inputs.docs(ctx.seed, 3, NDocs, Inputs.neighbourPoint(edge))
    val docsPath = writeDocs(ctx, corpus, 4 * ctx.cores)
    val pointsPath = ctx.newDir("points") + "/parquet"
    SpatialJoin.extractPoints(spark.read.parquet(docsPath))
      .select(concat(col("doc_id"), lit("#"), col("offset").cast("string")).as("pid"),
        col("lat"), col("lon"), col("cell"))
      .write.parquet(pointsPath)
    val sitesPath = ctx.newDir("sites") + "/parquet"
    sites.toDF("qid", "lat", "lon").coalesce(1).write.parquet(sitesPath)
    val pts = Oracle.extract(corpus).map(p => (p.pid, p.lat, p.lon))
    val wantKnn = Oracle.knn(sites.filter(s => math.abs(s._2) < KnnMaxAbsLat), pts, K)
    val wantNear = Oracle.pairsWithin(sites.toArray, pts, RadiusM, skipSelf = false)
      .map(p => (p._1, p._2)).toSet
    val (wantClusters, clusterPairs) = Oracle.dbscan(pts, EpsM, MinPts)
    new Prepared {
      def warmUp = false
      def docs: Long = NDocs
      def points: Long = pts.length
      def sizes = Seq("docs" -> NDocs.toLong, "points" -> pts.length.toLong,
        "sites" -> sites.length.toLong, "radius_pairs" -> wantNear.size.toLong,
        "eps_pairs" -> clusterPairs)
      def op(tr: Tracer): OpResult = {
        val w0 = fsBytesWritten()
        val ((knn, near, clusters), s) = timed {
          val p = spark.read.parquet(pointsPath)
          val q = spark.read.parquet(sitesPath)
          (tr.span("knn")(Knn.knn(spark, q.where(abs(col("lat")) < KnnMaxAbsLat),
              p.select("pid", "lat", "lon"), K).collect()),
            tr.span("spatialjoin.radius")(SpatialJoin.withinDistance(q, p, RadiusM).collect()),
            tr.span("cluster")(Cluster.dbscan(p, EpsM, MinPts).collect()))
        }
        val written = (fsBytesWritten() - w0).toDouble
        def check(): Option[String] = {
          val gotKnn = knn.groupBy(_.getString(0)).view
            .mapValues(_.sortBy(_.getInt(3)).map(_.getString(1)).toSeq).toMap
          val gotNear = near.map(r => (r.getString(0), r.getString(1))).toSet
          val gotClusters = clusters.map(r =>
            r.getString(0) -> ((Option(r.getString(1)), r.getBoolean(2)))).toMap
          if (gotKnn != wantKnn) {
            val q = wantKnn.keys.toSeq.sorted.find(k => gotKnn.get(k) != wantKnn.get(k))
            Some(s"knn top-$K differs for site ${q.getOrElse("?")}")
          } else if (gotNear != wantNear)
            Some(s"radius pairs: ${(gotNear -- wantNear).size} extra, " +
              s"${(wantNear -- gotNear).size} missing")
          else if (gotClusters != wantClusters) {
            val bad = (gotClusters.keySet ++ wantClusters.keySet)
              .count(k => gotClusters.get(k) != wantClusters.get(k))
            Some(s"dbscan labels differ on $bad points")
          } else None
        }
        OpResult(s, s, () => check(), layer = Map("durable.bytes_written" -> written))
      }
      def layerCounts(): Map[String, Double] = {
        val n = pts.length
        Map("core.haversine_ns" -> nsPerCall(sites.length * 1000) { i =>
            val s = sites(i % sites.length); val p = pts(i % n)
            Dist.haversine(s._2, s._3, p._2, p._3)
          },
          "spatialjoin.radius.pairs" -> wantNear.size.toDouble,
          "cluster.pairs" -> clusterPairs.toDouble)
      }
      def close(): Unit = ()
    }
  }
}

/** One doc of a tick slice; the slices are written partitioned by tick. */
final case class TickDoc(tick: Int, doc_id: String, spans: Seq[Span])

/** The write path: a cold Pipeline.run into a fresh directory, a resumed
  * rerun over the committed stages, then Streams.pyramidTick over disjoint
  * doc slices. Every committed stage is checked against the oracle. The
  * traced run takes the checkpoint metrics from the untraced Pipeline.run
  * and replays its stages through the same public calls only for the span
  * and task statistics of each layer. */
object StagedPipeline extends Workload {
  val NDocs = 100
  val Ticks = 8
  val TickDocs = 25
  val Zoom = 7
  val Stages: Seq[String] = Seq("clean", "profile", "points", "joined", "tiles", "pyramid")

  /** Every file under `dir` with its size and mtime: equal listings before
    * and after the resumed run show the resume rewrote nothing, so every
    * stage's rows and contents after resume are the cold run's. */
  def listing(dir: String): Seq[(String, Long, Long)] = {
    val base = new File(dir).toPath
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def walk(x: File): Unit =
      if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(walk))
      else out += ((base.relativize(x.toPath).toString, x.length(), x.lastModified()))
    walk(new File(dir))
    out.sorted.toSeq
  }

  /** A doc's text as the clean stage's dedup sees it. */
  def docText(d: Doc): String = d.spans.filter(_.kind == "text").map(_.text).mkString(" ")

  def prepare(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val corpus = Inputs.docsWithDuplicates(ctx.seed, 4, NDocs, Inputs.spreadPoint)
    val docsPath = writeDocs(ctx, corpus, 2)
    val layer = Inputs.hubLayer(ctx.seed)
    val polysPath = writeParquet(ctx, "polys", layer)
    val shapes = layer.map(Oracle.shape)
    val slices = (0 until Ticks).map { t =>
      Inputs.docs(ctx.seed, 10 + t, TickDocs, Inputs.hubPoint)
    }
    // all slices in one write, one partition directory per tick; each tick
    // reads its directory as a plain docs parquet
    val slicesPath = ctx.newDir("slices") + "/parquet"
    spark.createDataset(slices.zipWithIndex.flatMap { case (s, t) =>
      s.map(d => TickDoc(t, d.doc_id, d.spans)) })(Encoders.product[TickDoc])
      .write.partitionBy("tick").parquet(slicesPath)
    val slicePaths = slices.indices.map(t => s"$slicesPath/tick=$t")
    val tickPoints = slices.map(s => Oracle.extract(s).length.toLong).sum
    val inputBytes = treeSize(docsPath)._1
    val pts = Oracle.extract(corpus)
    val spans = Oracle.textSpans(corpus)
    val ids = corpus.map(_.doc_id).toSet
    // the clean stage must drop every doc whose text equals that of a doc
    // with a smaller id, and keep every doc without text
    val exactLosers = corpus.map(d => (docText(d), d.doc_id)).filter(_._1.nonEmpty)
      .groupBy(_._1).values.flatMap(_.map(_._2).sorted.tail).toSet
    val textless = corpus.filter(d => docText(d).isEmpty).map(_.doc_id).toSet

    /** Checks one run's committed stages: clean against the exact
      * duplicates, points against the oracle parse of the surviving docs,
      * joined per polygon against bbox + PIP over those points, and tiles
      * and every pyramid zoom against the joined row count. */
    def stageCheck(out: String): Option[String] = {
      val kept = spark.read.parquet(s"$out/clean").select("doc_id").collect().map(_.getString(0))
      val keptSet = kept.toSet
      val wantPts = Oracle.extract(corpus.filter(d => keptSet(d.doc_id)))
        .sortBy(p => (p.doc, p.offset)).toSeq
      val gotPts = spark.read.parquet(s"$out/points").select("doc_id", "offset", "lat", "lon")
        .collect().map(r => Oracle.Pt(r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(p => (p.doc, p.offset)).toSeq
      val wantPoly = Oracle.polyCounts(new Oracle.LatIndex(wantPts.toArray), shapes)
      val joinedRows = wantPoly.values.map(_._2).sum
      def zoomSums(st: String): Map[Int, Long] = spark.read.parquet(s"$out/$st").groupBy(col("z"))
        .agg(sum(col("n_points"))).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (kept.length != keptSet.size || !keptSet.subsetOf(ids))
        Some("clean stage holds repeated or unknown doc ids")
      else if ((keptSet & exactLosers).nonEmpty)
        Some(s"clean stage kept ${(keptSet & exactLosers).size} exact duplicates")
      else if (!textless.subsetOf(keptSet))
        Some(s"clean stage dropped ${(textless -- keptSet).size} docs without text")
      else if (gotPts != wantPts)
        Some(s"points stage: ${gotPts.length} points, oracle ${wantPts.length}, " +
          s"${gotPts.diff(wantPts).length} not in the oracle")
      else diff("joined stage", asCounts(perPolygon(spark.read.parquet(s"$out/joined")).collect()),
          wantPoly)
        .orElse(Some(zoomSums("tiles")).filter(_ != Map(Zoom -> joinedRows))
          .map(t => s"tiles stage sums $t, want $joinedRows at zoom $Zoom"))
        .orElse(Some(zoomSums("pyramid")).filter(_ != (Zoom - 3 to Zoom).map(_ -> joinedRows).toMap)
          .map(t => s"pyramid stage sums $t, want $joinedRows per zoom"))
    }

    def tickCheck(work: String): Option[String] = {
      val sums = spark.read.parquet(s"$work/pyramid").groupBy(col("z"))
        .agg(sum(col("n_points"))).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val want = (Zoom - 3 to Zoom).map(_ -> tickPoints).toMap
      if (sums == want) None else Some(s"tick pyramid sums $sums, want $tickPoints per zoom")
    }

    def ticks(tr: Tracer, work: String): Seq[Double] =
      slicePaths.zipWithIndex.map { case (p, t) =>
        timed(tr.span("streams.tick")(
          Streams.pyramidTick(spark, spark.read.parquet(p), work, Zoom - 3, Zoom, t)))._2
      }

    def untraced(tr: Tracer): OpResult = {
      val out = ctx.newDir("pipeline")
      val work = ctx.newDir("ticks")
      val (cold, coldS) = timed(Pipeline.run(spark, docsPath, polysPath, out, Level, Zoom))
      val before = listing(out)
      val (again, resumeS) = timed(Pipeline.run(spark, docsPath, polysPath, out, Level, Zoom))
      val after = listing(out)
      val tickS = ticks(tr, work)
      val coldBy = cold.toMap
      val againBy = again.toMap
      val written = Stages.map(st => st -> treeSize(s"$out/$st")).toMap
      val quarter = Ticks / 4
      val layer = Stages.flatMap { st =>
        val (b, f, d) = written(st)
        Seq(s"checkpoint.commit_s.$st" -> coldBy(st)._2, s"checkpoint.resume_s.$st" -> againBy(st)._2,
          s"checkpoint.files_written.$st" -> f.toDouble, s"checkpoint.dirs_written.$st" -> d.toDouble,
          s"checkpoint.bytes_written.$st" -> b.toDouble)
      }.toMap ++ Map(
        "streams.tick_late_over_early" ->
          Stats.median(tickS.takeRight(quarter)) / Stats.median(tickS.take(quarter)),
        "streams.delta_files" -> treeSize(s"$work/base_deltas")._2.toDouble)
      val summary = Map("resume_s" -> resumeS, "tick_p50_s" -> Stats.median(tickS),
        "bytes_written_per_input_byte" -> before.map(_._2).sum.toDouble / inputBytes,
        "points_files" -> written("points")._2.toDouble,
        "points_dirs" -> written("points")._3.toDouble) ++
        cold.map { case (st, (_, sec, _)) => s"cold_${st}_s" -> sec }
      OpResult(coldS + resumeS + tickS.sum, coldS, () => {
        val coldRows = cold.map(s => s._1 -> s._2._1).toMap
        val againRows = again.map(s => s._1 -> s._2._1).toMap
        try {
          if (!cold.forall(!_._2._3) || !again.forall(_._2._3)) Some("rerun recomputed a committed stage")
          else if (before != after) Some("rerun rewrote committed files")
          else if (coldRows != againRows) Some(s"rows after resume $againRows != cold $coldRows")
          else stageCheck(out).orElse(tickCheck(work))
        } finally { deleteTree(out); deleteTree(work) }
      }, layer = layer, summary = summary, replayedSeconds = Some(coldS + tickS.sum))
    }

    /** Pipeline.run's stages through the same public calls, each layer
      * materialized in its own span and each commit in a checkpoint span,
      * then the ticks. */
    def traced(tr: Tracer): OpResult = {
      val out = ctx.newDir("pipeline")
      val work = ctx.newDir("ticks")
      val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val textOfSpans =
        expr("concat_ws(' ', transform(filter(spans, s -> s.kind = 'text'), s -> s.text))")
      // commit, then count the committed rows as Pipeline.run does
      def commit(st: String, part: Option[String])(body: => DataFrame): DataFrame = {
        val b = body
        tr.span("checkpoint.commit") {
          val w = Checkpoint.stage(spark, s"$out/$st", st, s"$st:${ctx.seed}", part)(b)
          w.count()
          w
        }
      }
      val (_, s) = timed {
        val d = spark.read.parquet(docsPath)
        val polys = spark.read.parquet(polysPath)
        val cleaned = commit("clean", None)(tr.span("dedup") {
          val text = tr.materialize(d.select(col("doc_id"), textOfSpans.as("text"))
            .where(length(col("text")) > 0))
          val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
          val exactLosers = Dedup.exactGroups(text)
            .withColumn("rn", row_number().over(w)).where(col("rn") > 1).select(col("doc_id"))
          val near = tr.materialize(Dedup.minhashLsh(text, threshold = 0.9))
          layer("dedup.pairs") = near.count().toDouble
          val nearLosers = near.select(col("doc_b").as("doc_id")).distinct()
          tr.materialize(d.join(exactLosers.union(nearLosers).distinct(), Seq("doc_id"), "left_anti"))
        })
        commit("profile", Some("lang3"))(tr.span("textops")(
          tr.materialize(TextOps.profileFull(cleaned.select(col("doc_id"), textOfSpans.as("text"))))))
        val points = commit("points", Some("cell_p2"))(tr.span("spatialjoin.extract")(
          tr.materialize(SpatialJoin.extractPoints(cleaned, Level)
            .withColumn("cell_p2", substring(col("cell"), 1, 2)))))
        // SpatialJoin.join through its two public halves, so the covering
        // gets its own span
        val idx = tr.span("spatialjoin.cover") {
          val i = SpatialJoin.buildIndex(polys, Level)
          i.copy(cells = tr.materialize(i.cells))
        }
        val joined = commit("joined", Some("poly_id"))(tr.span("spatialjoin.join")(
          tr.materialize(SpatialJoin.joinWithIndex(points.drop("cell_p2"), idx))))
        val tiles = commit("tiles", None)(tr.span("tiler")(
          tr.materialize(Tiler.histogram(joined, Zoom))))
        commit("pyramid", None)(tr.span("tiler")(
          tr.materialize(Tiler.pyramidFromBase(tiles, Zoom - 3, Zoom))))
      }
      tr.release()
      val tickS = ticks(tr, work)
      OpResult(s + tickS.sum, s, () => {
        try stageCheck(out).orElse(tickCheck(work))
        finally { deleteTree(out); deleteTree(work) }
      }, layer = layer.toMap)
    }

    new Prepared {
      def warmUp = false
      def docs: Long = corpus.length
      def points: Long = pts.length
      def sizes = Seq("docs" -> corpus.length.toLong, "points" -> pts.length.toLong,
        "input_bytes" -> inputBytes, "tick_docs" -> (Ticks * TickDocs).toLong)
      def op(tr: Tracer): OpResult = if (tr.enabled) traced(tr) else untraced(tr)
      def layerCounts(): Map[String, Double] =
        Map("core.parse_ns" -> parseNs(spans),
          "core.cover_ms" -> coverMs(shapes.map(_.ring).toArray),
          "core.pip_ns" -> pipNs(new Oracle.LatIndex(pts), shapes),
          "spatialjoin.extract.parse_yield" -> pts.length.toDouble / spans.length)
      def close(): Unit = ()
    }
  }
}
