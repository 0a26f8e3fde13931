package perfbench

import java.util.Random

import graft.engine.{Doc, PointLL, Poly, Span}

/** Seeded input generators. The engine only ever sees what these produce,
  * written to parquet under the run directory; the same seed always gives
  * the same inputs.
  *
  * Documents follow the span grammars of the engine's synthetic corpus:
  * 1-8 spans per doc, 30% media spans, text spans carrying one coordinate in
  * one of five grammars (signed decimal, degree sign, DMS with cardinals,
  * decimal comma, cardinal suffix), 8% plain prose and 2% poison values.
  * That gives about 2.8 parseable points per doc. */
object Inputs {

  /** 20 fixed hubs (major-city-like). Fixed across seeds so that every seed
    * has the same skew structure; the seed moves everything else. */
  val Hubs: Array[(Double, Double)] = Array(
    (40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503), (48.8566, 2.3522),
    (-33.8688, 151.2093), (19.4326, -99.1332), (55.7558, 37.6173), (-23.5505, -46.6333),
    (1.3521, 103.8198), (52.5200, 13.4050), (37.7749, -122.4194), (31.2304, 121.4737),
    (28.6139, 77.2090), (-26.2041, 28.0473), (41.0082, 28.9784), (59.3293, 18.0686),
    (25.2048, 55.2708), (-34.6037, -58.3816), (43.6532, -79.3832), (13.7563, 100.5018))

  private def mix(a: Long, b: Long): Long = {
    var h = a ^ (b * 0x9E3779B97F4A7C15L)
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** Independent generator per (seed, stream, index): inputs do not depend
    * on generation order. */
  def rng(seed: Long, stream: Long, i: Long): Random =
    new Random(mix(mix(seed, stream + 1), i))

  private def clampLat(v: Double) = math.max(-89.0, math.min(89.0, v))
  private def wrapLon(v: Double) = graft.core.GeoMath.wrap180(v)

  /** 80% within sigma 0.05 deg of a hub, 20% uniform. */
  def hubPoint(r: Random): (Double, Double) =
    if (r.nextDouble() < 0.8) {
      val (la, lo) = Hubs(r.nextInt(Hubs.length))
      (clampLat(la + r.nextGaussian() * 0.05), wrapLon(lo + r.nextGaussian() * 0.05))
    } else uniformPoint(r)

  def uniformPoint(r: Random): (Double, Double) =
    (r.nextDouble() * 170 - 85, r.nextDouble() * 360 - 180)

  /** 70% uniform, else the hub mixture. At 100k docs the hub mixture's 20%
    * uniform share alone reaches every level-2 cell; a corpus of a few
    * thousand docs needs this larger uniform share to reach most of them,
    * so the points stage commits one partition directory per cell as it
    * does at full size. */
  def spreadPoint(r: Random): (Double, Double) =
    if (r.nextDouble() < 0.7) uniformPoint(r) else hubPoint(r)

  private def render(r: Random, lat: Double, lon: Double): String = {
    def dms(v: Double, pos: Char, neg: Char): String = {
      val av = math.abs(v)
      val d = av.toInt
      val mFull = (av - d) * 60
      val m = mFull.toInt
      f"$d%d° $m%d' ${(mFull - m) * 60}%2.3f'' ${if (v >= 0) pos else neg}%c"
    }
    r.nextInt(5) match {
      case 0 => f"$lat%.6f, $lon%.6f"
      case 1 => f"$lat%.6f°, $lon%.6f°"
      case 2 => dms(lat, 'N', 'S') + ", " + dms(lon, 'E', 'W')
      case 3 => f"$lat%.6f, $lon%.6f".replace('.', ',')
      case _ =>
        f"${math.abs(lat)}%.6f ${if (lat >= 0) "N" else "S"}, " +
          f"${math.abs(lon)}%.6f ${if (lon >= 0) "E" else "W"}"
    }
  }

  def doc(r: Random, id: String, point: Random => (Double, Double)): Doc = {
    var offset = 0
    val spans = (0 until 1 + r.nextInt(8)).map { _ =>
      offset += 1 + r.nextInt(50)
      if (r.nextDouble() < 0.3)
        Span("media", s"caption ${r.nextInt(1000)}", f"media://${r.nextLong()}%016x", offset)
      else {
        val u = r.nextDouble()
        val text =
          if (u < 0.08) "no coordinates in this span at all"
          else if (u < 0.10) {
            if (r.nextBoolean()) "garbage text 999 not, a coord"
            else f"${95 + r.nextInt(40)}%d.5, ${200 + r.nextInt(40)}%d.1"
          } else {
            val (la, lo) = point(r)
            render(r, la, lo)
          }
        Span("text", text, "", offset)
      }
    }
    Doc(id, spans)
  }

  /** `n` docs of one stream; doc ids are unique within a run. */
  def docs(seed: Long, stream: Long, n: Int, point: Random => (Double, Double)): Seq[Doc] =
    (0 until n).map(i => doc(rng(seed, stream, i), f"d$stream%d-$i%07d", point))

  /** Staged-pipeline corpus: `n` docs plus 5% exact copies and 3% near
    * copies (one span re-rendered), so the dedup stage has pairs to find.
    * Copies get ids that sort after every original. */
  def docsWithDuplicates(seed: Long, stream: Long, n: Int,
                         point: Random => (Double, Double)): Seq[Doc] = {
    val base = docs(seed, stream, n, point)
    val r = rng(seed, stream + 100, 0)
    val extra = (0 until n / 12).map { j =>
      val src = base(r.nextInt(base.length))
      val spans =
        if (j % 8 < 5 || src.spans.isEmpty) src.spans
        else src.spans.updated(0, src.spans.head.copy(text = src.spans.head.text + " ."))
      Doc(f"d$stream%d-dup$j%06d", spans)
    }
    base ++ extra
  }

  def ring(cLat: Double, cLon: Double, n: Int, radius: Double): Seq[PointLL] =
    (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      PointLL(clampLat(cLat + radius * math.cos(a)), wrapLon(cLon + radius * math.sin(a)))
    }

  /** 50-polygon serving layer: 45 regular n-gons on the hubs (cycling,
    * centre jittered) + 5 elsewhere, 5-12 vertices, radius 0.1-2.0 deg. */
  def hubLayer(seed: Long, n: Int = 50): Seq[Poly] = (0 until n).map { p =>
    val r = rng(seed, 7, p)
    val (cLat, cLon) =
      if (p < 45) {
        val (la, lo) = Hubs(p % Hubs.length)
        (la + (r.nextDouble() - 0.5) * 0.04, lo + (r.nextDouble() - 0.5) * 0.04)
      } else (r.nextDouble() * 140 - 70, r.nextDouble() * 340 - 170)
    Poly(f"poly-$p%03d", ring(cLat, cLon, 5 + r.nextInt(8), 0.1 + r.nextDouble() * 1.9))
  }

  /** Query sites for the fixed-radius family: hub sites plus polar
    * (+-89 deg) and antimeridian (+-179.9 deg) sites, so the lat-band
    * fallbacks and the date-line wrap run. */
  def sites(seed: Long, nHub: Int): Seq[(String, Double, Double)] = {
    val r = rng(seed, 9, 0)
    val hub = (0 until nHub).map { i =>
      val (la, lo) = Hubs(i % Hubs.length)
      (f"s$i%03d", la + r.nextGaussian() * 0.02, lo + r.nextGaussian() * 0.02)
    }
    val edge = Seq((89.0, 10.0), (-89.0, -120.0), (89.2, 170.0), (-88.9, 45.0),
      (10.0, 179.9), (-20.0, -179.9), (65.0, 179.95), (-45.0, -179.95))
      .zipWithIndex.map { case ((la, lo), i) =>
        (f"e$i%03d", la + r.nextGaussian() * 0.01, wrapLon(lo + r.nextGaussian() * 0.01))
      }
    hub ++ edge
  }

  /** Point placement for the neighbours corpus: the hub mixture, plus 4% of
    * points scattered within about 0.05 deg of the polar and antimeridian
    * sites so those sites have neighbours. */
  def neighbourPoint(edge: Seq[(Double, Double)])(r: Random): (Double, Double) =
    if (r.nextDouble() < 0.04) {
      val (la, lo) = edge(r.nextInt(edge.length))
      (clampLat(la + r.nextGaussian() * 0.03), wrapLon(lo + r.nextGaussian() * 0.03))
    } else hubPoint(r)
}
