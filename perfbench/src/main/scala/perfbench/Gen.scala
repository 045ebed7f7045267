package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.MapEncoder
import graft.MapEncoder.{MapSpec, PoiSpec, SubfileSpec, TileSpec, WaySpec}
import graft.functions.GeomOps
import graft.sources.Mapsforge

/** Seeded input generators that need the program's own encoders.
  *
  * `map <seed> <pois> <dir>` writes `input.map`, a dbl MapsForge file
  * built with [[graft.MapEncoder]]; `truth.tsv`, the features the merged
  * database must hold (kind, id, minz, maxz, then the point's lon, the
  * line's length or the area's area, and the tolerance on it); and
  * `records.txt`, the number of POI and
  * way records the tiles hold. The map has three subfiles (levels 8, 11
  * and 14). Every feature lives at level 14; some repeat at level 11 and
  * level 8, so the cross-level merge has work. Lines and areas span
  * several level-14 tiles and are written into every tile they cross,
  * so each tile's copy is clipped and the fragments are merged back.
  * POIs near a tile edge are also written into the neighbouring tile,
  * whose clip drops them.
  *
  * `sql <file>` writes the DuckDB oracle of the corpus pipeline
  * (`PipelineE2e.d21Sql`), so the oracle is always the one the checked
  * out program declares.
  */
object Gen {
  private val poiTags = Seq("amenity=cafe", "shop=bakery", "tourism=hotel",
    "__dbl_pnum=%i")
  // the license must stay the LAST way tag: dbl detection reads it there
  private val wayTags = Seq("highway=primary", "highway=residential",
    "__dbl_lnum=%i", "landuse=forest", "building=yes", "__dbl_anum=%i",
    "_lbd_=" + "ODbL-1.0".reverse)

  private val (minLat, maxLat, minLon, maxLon) = (50.0, 50.2, 8.0, 8.3)
  /** (level, minzoom, maxzoom) per subfile, low to high. */
  private val levels = Seq((8, 6, 8), (11, 9, 11), (14, 12, 17))

  private def md(v: Double): Double = math.rint(v * 1e6) / 1e6
  private def tileX(z: Int, lon: Double): Long =
    Mapsforge.xFromLon(z, lon).toLong
  private def tileY(z: Int, lat: Double): Long =
    Mapsforge.yFromLat(z, lat).toLong
  private def tileBox(z: Int, x: Long, y: Long) =
    GeomOps.box(Mapsforge.lonFromX(z, x), Mapsforge.latFromY(z, y + 1),
      Mapsforge.lonFromX(z, x + 1), Mapsforge.latFromY(z, y))

  /** Tiles at level `z` whose box meets `g`. */
  private def tilesOf(z: Int, g: org.locationtech.jts.geom.Geometry)
      : Seq[(Long, Long)] = {
    val e = g.getEnvelopeInternal
    for {
      x <- tileX(z, e.getMinX) to tileX(z, e.getMaxX)
      y <- tileY(z, e.getMaxY) to tileY(z, e.getMinY)
      if tileBox(z, x, y).intersects(g)
    } yield (x, y)
  }

  /** Distance in metres from (lon, lat) to the nearest level-`z` tile
    * edge, and the (dlon, dlat) step in degrees that crosses it. */
  private def nearestEdge(z: Int, lon: Double, lat: Double)
      : (Double, (Double, Double)) = {
    val (x, y) = (tileX(z, lon), tileY(z, lat))
    val mLat = 111320.0
    val mLon = mLat * math.cos(math.toRadians(lat))
    val step = 2 * BboxEnlargementM / mLon
    Seq((lon - Mapsforge.lonFromX(z, x)) * mLon -> (-step, 0.0),
      (Mapsforge.lonFromX(z, x + 1) - lon) * mLon -> (step, 0.0),
      (lat - Mapsforge.latFromY(z, y + 1)) * mLat -> (0.0, -step),
      (Mapsforge.latFromY(z, y) - lat) * mLat -> (0.0, step)).minBy(_._1)
  }

  /** mapsforge-writer's default `bbox-enlargement`: a POI within this
    * many metres of a tile edge is also written into the neighbour. */
  val BboxEnlargementM = 20.0

  def writeMap(seed: Long, nPoi: Int, dir: String): Unit = {
    val rnd = new scala.util.Random(seed)
    val nLine = nPoi * 3 / 40; val nArea = nPoi / 20
    type Key = (Int, Long, Long) // level, tile x, tile y
    val pois = scala.collection.mutable.Map
      .empty[Key, Vector[PoiSpec]].withDefaultValue(Vector.empty)
    val ways = scala.collection.mutable.Map
      .empty[Key, Vector[WaySpec]].withDefaultValue(Vector.empty)
    val truth = new StringBuilder
    def zoomIn(level: Int): Int = {
      val (_, lo, hi) = levels.find(_._1 == level).get
      lo + rnd.nextInt(hi - lo + 1)
    }
    // levels a feature appears at: always 14, sometimes 11, rarely 8
    def featureLevels(): Seq[Int] =
      Seq(14) ++ (if (rnd.nextDouble() < 0.4) Seq(11) else Nil) ++
        (if (rnd.nextDouble() < 0.15) Seq(8) else Nil)
    def inner(lo: Double, hi: Double, margin: Double): Double =
      md(lo + margin + rnd.nextDouble() * (hi - lo - 2 * margin))

    for (id <- 0 until nPoi) {
      var (lon, lat) = (0.0, 0.0)
      // off the exact edge, so a point is inside exactly one tile box
      do {
        lon = inner(minLon, maxLon, 0.002); lat = inner(minLat, maxLat, 0.002)
      } while (nearestEdge(14, lon, lat)._1 < 0.2)
      val lv = featureLevels()
      val zs = lv.map { l =>
        val z = zoomIn(l)
        val p = PoiSpec(tileZ = z, lat = lat, lon = lon, layer = id % 3,
          tagIdx = Seq(id % 3, 3), vtagValues = Seq(Int.box(id)),
          name = if (id % 4 == 0) Some(s"poi $id") else None)
        pois((l, tileX(l, lon), tileY(l, lat))) :+= p
        val (metres, (dx, dy)) = nearestEdge(14, lon, lat)
        if (l == 14 && metres < BboxEnlargementM) {
          // the writer's edge buffer: a copy in the nearest neighbour
          pois((14, tileX(14, lon + dx), tileY(14, lat + dy))) :+= p
        }
        z
      }
      truth ++= s"p\t$id\t${zs.min}\t17\t$lon\t1e-9\n"
    }

    for (id <- 0 until nLine) {
      // x-monotone polyline: it never crosses itself, so the merged
      // fragments linemerge back into one LineString
      val n = 4 + rnd.nextInt(6)
      var lon = inner(minLon, maxLon - 0.1, 0.003)
      var lat = inner(minLat, maxLat, 0.02)
      val pts = (0 until n).map { _ =>
        val p = (lon, lat)
        lon = md(lon + 0.004 + rnd.nextDouble() * 0.008)
        lat = md(math.max(minLat + 0.003, math.min(maxLat - 0.003,
          lat + (rnd.nextDouble() - 0.5) * 0.012)))
        p
      }
      val line = GeomOps.lineString(pts)
      val zs = featureLevels().map { l =>
        val z = zoomIn(l)
        // lower levels carry a simplified copy (every other vertex)
        val kept = if (l == 14) pts
          else pts.zipWithIndex.collect {
            case (p, i) if i % 2 == 0 || i == pts.size - 1 => p
          }
        val w = WaySpec(tileZ = z, layer = 0, tagIdx = Seq(id % 2, 2),
          vtagValues = Seq(Int.box(id)), doubleDelta = id % 2 == 0,
          name = if (id % 3 == 0) Some(s"road $id") else None,
          blocks = Seq(Seq(kept)))
        tilesOf(l, GeomOps.lineString(kept))
          .foreach { case (x, y) => ways((l, x, y)) :+= w }
        z
      }
      // each clip point snaps to the microdegree grid
      val crossings = tilesOf(14, line).size
      truth ++= s"l\t$id\t${zs.min}\t17\t${line.getLength}\t${2e-6 * crossings}\n"
    }

    for (id <- 0 until nArea) {
      // convex hexagon, up to a few tiles across
      val r = 0.003 + rnd.nextDouble() * 0.012
      val cx = inner(minLon, maxLon, r + 0.003)
      val cy = inner(minLat, maxLat, r + 0.003)
      val rot = rnd.nextDouble()
      val ring0 = (0 until 6).map { k =>
        val a = (k + rot) * math.Pi / 3
        (md(cx + r * math.cos(a)), md(cy + 0.7 * r * math.sin(a)))
      }
      val ring = ring0 :+ ring0.head
      val poly = GeomOps.polygon(ring, Nil)
      val zs = featureLevels().map { l =>
        val z = zoomIn(l)
        val w = WaySpec(tileZ = z, layer = 1, tagIdx = Seq(3 + id % 2, 5),
          vtagValues = Seq(Int.box(id)), blocks = Seq(Seq(ring)))
        tilesOf(l, poly).foreach { case (x, y) => ways((l, x, y)) :+= w }
        z
      }
      // a snapped clip point moves an edge by at most half a microdegree
      truth ++= s"a\t$id\t${zs.min}\t17\t${poly.getArea}\t${1e-6 * poly.getLength}\n"
    }

    val subfiles = levels.map { case (l, lo, hi) =>
      val keys = (pois.keySet ++ ways.keySet).filter(_._1 == l).toSeq.sorted
      SubfileSpec(l, lo, hi, keys.map { k =>
        TileSpec(k._2, k._3, pois = pois(k), ways = ways(k))
      })
    }
    val bytes = MapEncoder.encode(MapSpec(minLat = minLat, minLon = minLon,
      maxLat = maxLat, maxLon = maxLon, poiTags = poiTags, wayTags = wayTags,
      subfiles = subfiles, comment = Some(s"perfbench map seed $seed"),
      createdBy = Some("perfbench")))
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "input.map"), bytes)
    Files.write(Paths.get(dir, "truth.tsv"), truth.toString.getBytes(UTF_8))
    val records = pois.values.map(_.size).sum + ways.values.map(_.size).sum
    Files.write(Paths.get(dir, "records.txt"), s"$records\n".getBytes(UTF_8))
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("map", seed, pois, dir) =>
      writeMap(seed.toLong, pois.toInt, dir)
    case Seq("sql", file) =>
      Files.write(Paths.get(file),
        graft.operators.PipelineE2e.d21Sql.getBytes(UTF_8))
    case _ =>
      System.err.println("usage: Gen map <seed> <pois> <dir> | Gen sql <file>")
      sys.exit(2)
  }
}
