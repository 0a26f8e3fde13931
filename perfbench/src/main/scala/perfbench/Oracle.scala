package perfbench

import graft.core.{Dist, Parsers, Pip}
import graft.engine.{Doc, Knn, PointLL, Poly}

/** Brute-force reference answers, computed on the driver from the generated
  * inputs with the engine's scalar kernels only (parse, bbox, PIP,
  * haversine). Nothing here touches cell coverings, joins or Spark, so a
  * defect in those layers shows as a mismatch. */
object Oracle {

  /** One parsed point: pid is "<doc_id>#<offset>", unique per run. */
  final case class Pt(doc: String, offset: Int, lat: Double, lon: Double) {
    def pid: String = s"$doc#$offset"
  }

  def textSpans(docs: Seq[Doc]): Array[String] =
    docs.iterator.flatMap(_.spans.iterator.filter(_.kind == "text").map(_.text)).toArray

  def extract(docs: Seq[Doc]): Array[Pt] =
    docs.iterator.flatMap { d =>
      d.spans.iterator.filter(_.kind == "text").flatMap { s =>
        val p = Parsers.parsePoint(s.text)
        if (p == null) None else Some(Pt(d.doc_id, s.offset, p(0), p(1)))
      }
    }.toArray

  def packed(ring: Seq[PointLL]): Array[Double] =
    ring.iterator.flatMap(p => Iterator(p.lat, p.lon)).toArray

  /** A single-ring polygon as a packed ring with its bounding box. */
  final case class Shape(id: String, ring: Array[Double]) {
    val bbox: Array[Double] = Pip.bbox(ring)
    def contains(lat: Double, lon: Double): Boolean = Pip.contains(lat, lon, ring)
  }
  def shape(p: Poly): Shape = Shape(p.poly_id, packed(p.ring))

  /** Points sorted by latitude, for bbox range scans. */
  final class LatIndex(pts: Array[Pt]) {
    val sorted: Array[Pt] = pts.sortBy(_.lat)
    private val lats = sorted.map(_.lat)
    /** Indices [from, until) of points with lat in [lo, hi]. */
    def range(lo: Double, hi: Double): (Int, Int) = {
      def lower(v: Double): Int = {
        var a = 0; var b = lats.length
        while (a < b) { val m = (a + b) >>> 1; if (lats(m) < v) a = m + 1 else b = m }
        a
      }
      def upper(v: Double): Int = {
        var a = 0; var b = lats.length
        while (a < b) { val m = (a + b) >>> 1; if (lats(m) <= v) a = m + 1 else b = m }
        a
      }
      (lower(lo), upper(hi))
    }
  }

  /** Per-polygon (distinct docs, points) over bbox-prefiltered PIP.
    * Polygons with no point are absent, as in a join-then-group result. */
  def polyCounts(idx: LatIndex, shapes: Seq[Shape]): Map[String, (Long, Long)] =
    shapes.flatMap { s =>
      val (from, until) = idx.range(s.bbox(0), s.bbox(2))
      val docs = scala.collection.mutable.HashSet.empty[String]
      var n = 0L
      var i = from
      while (i < until) {
        val p = idx.sorted(i)
        if (p.lon >= s.bbox(1) && p.lon <= s.bbox(3) && s.contains(p.lat, p.lon)) {
          n += 1
          docs += p.doc
        }
        i += 1
      }
      if (n > 0) Some(s.id -> (docs.size.toLong, n)) else None
    }.toMap

  /** Every (a, b) pair with haversine(a, b) <= radiusM, found by a
    * latitude-band scan: |dlat| <= radius / metres-per-degree is necessary
    * for any pair within the radius, at any longitude, pole or date line
    * (Knn.MetersPerDegree is rounded down, so the band is conservative). */
  def pairsWithin(as: Array[(String, Double, Double)], bs: Array[(String, Double, Double)],
                  radiusM: Double, skipSelf: Boolean): Array[(String, String, Double)] = {
    val bandDeg = radiusM / Knn.MetersPerDegree
    val byBand = bs.groupBy(b => math.floor(b._2 / bandDeg).toLong)
    val out = Array.newBuilder[(String, String, Double)]
    as.foreach { a =>
      val band = math.floor(a._2 / bandDeg).toLong
      var d = -1L
      while (d <= 1) {
        byBand.get(band + d).foreach(_.foreach { b =>
          if (!(skipSelf && a._1 == b._1)) {
            val dist = Dist.haversine(a._2, a._3, b._2, b._3)
            if (dist <= radiusM) out += ((a._1, b._1, dist))
          }
        })
        d += 1
      }
    }
    out.result()
  }

  /** Exact top-k by (distance, pid) for every site. */
  def knn(sites: Seq[(String, Double, Double)], pts: Array[(String, Double, Double)],
          k: Int): Map[String, Seq[String]] =
    sites.map { case (q, la, lo) =>
      q -> pts.iterator.map(p => (Dist.haversine(la, lo, p._2, p._3), p._1)).toSeq
        .sorted.take(k).map(_._2)
    }.toMap

  /** DBSCAN as the engine defines it: core iff |N_eps(p)| + 1 >= minPts;
    * a core point's cluster is the smallest core pid of its core-graph
    * component; a border point takes the smallest cluster among its core
    * neighbours; noise has no cluster. Returns pid -> (cluster, isCore)
    * and the number of ordered eps-pairs. */
  def dbscan(pts: Array[(String, Double, Double)], epsM: Double,
             minPts: Int): (Map[String, (Option[String], Boolean)], Long) = {
    val pairs = pairsWithin(pts, pts, epsM, skipSelf = true)
    val nbrs = pairs.groupMap(_._1)(_._2)
    val core = pts.iterator.map(_._1)
      .filter(p => nbrs.get(p).fold(0)(_.length) + 1 >= minPts).toSet
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b, _) =>
      if (core(a) && core(b)) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    }
    val labels = pts.iterator.map(_._1).map { p =>
      if (core(p)) p -> (Some(find(p)), true)
      else {
        val cs = nbrs.getOrElse(p, Array.empty[String]).filter(core).map(find)
        p -> (if (cs.isEmpty) None else Some(cs.min), false)
      }
    }.toMap
    (labels, pairs.length.toLong)
  }
}
