package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pins
import graft.functions.{GeomFunctions, GeomOps}
import graft.sources.Mapsforge
import graft.sources.Mapsforge.{Poi, Way}

/** End-to-end map2db pipeline on Spark (SURVEY.md §2c).
  *
  * Mirrors the reference's per-tile feature handling
  * (map2db.py:815-1077) and cross-tile/level merge (747-812) as a
  * declarative plan:
  *
  *  1. executors decode tiles → Poi/Way rows (Mapsforge.scan);
  *  2. per row: build geometry, clip to the row's tile box on the
  *     microdegree grid, make-valid for areas, drop empties —
  *     all row-local, no shuffle;
  *  3. one shuffle per feature table: groupBy(fid) merges fragments —
  *     geometry union at the max (least simplified) level, zoom range
  *     extended to the min level seen (window + agg over one
  *     exchange);
  *  4. line features get the reference's two-pass endpoint-snap
  *     linemerge, row-local after the merge shuffle.
  *
  * The reference walks tiles serially and mutates sqlite row-by-row;
  * here every stage is partition-parallel and the only data movement
  * is the per-table fid shuffle.
  */
object MapPipeline {

  case class Feature(fid: Long, level: Int, minz: Int, maxz: Int,
      layer: Int, tags: String, vtags: Map[String, String],
      wkb: Array[Byte])

  private def jsonArray(tags: Seq[String]): String =
    tags.map(t => "\"" + t.replace("\\", "\\\\").replace("\"", "\\\"")
      + "\"").mkString("[", ", ", "]")

  private def tileBox(level: Int, tileX: Long, tileY: Long)
      : (Double, Double, Double, Double) = {
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    (r6(Mapsforge.lonFromX(level, tileX)),
      r6(Mapsforge.latFromY(level, tileY + 1)),
      r6(Mapsforge.lonFromX(level, tileX + 1)),
      r6(Mapsforge.latFromY(level, tileY)))
  }

  /** POIs → point features, clipped to their tile box
    * (map2db.py:837-886). Row-local. */
  def pointFeatures(pois: Dataset[Poi]): Dataset[Feature] = {
    import pois.sparkSession.implicits._
    pois.flatMap { p =>
      p.pnum.flatMap { fid =>
        val (minx, miny, maxx, maxy) = tileBox(p.level, p.tileX, p.tileY)
        val g = GeomOps.multiPoint(Seq((p.lon, p.lat)))
        val clipped = GeomOps.clipToBox(g, minx, miny, maxx, maxy)
        if (clipped.isEmpty) None // point was in the tile's edge buffer
        else Some(Feature(fid, p.level, p.minz, p.maxz, p.layer,
          jsonArray(p.tags), p.vtags,
          GeomOps.toWkb(GeomOps.normalized(clipped))))
      }
    }
  }

  /** Ways → line features (map2db.py:888-966). Row-local. */
  def lineFeatures(ways: Dataset[Way]): Dataset[Feature] = {
    import ways.sparkSession.implicits._
    ways.filter(w => w.geomType == "MULTILINESTRING" && w.lnum.isDefined)
      .flatMap { w =>
        val (minx, miny, maxx, maxy) = tileBox(w.level, w.tileX, w.tileY)
        val g = GeomOps.multiLineString(
          w.coords.flatten.map(_.map(c => (c.lon, c.lat))))
        val clipped =
          if (GeomOps.boxCovers(g, minx, miny, maxx, maxy)) g
          else GeomOps.clipToBox(g, minx, miny, maxx, maxy)
        if (clipped.isEmpty) None
        else GeomOps.keepLinear(clipped).map { kept =>
          Feature(w.lnum.get, w.level, w.minz, w.maxz, w.layer,
            jsonArray(w.tags), w.vtags,
            GeomOps.toWkb(GeomOps.normalized(kept)))
        }
      }
  }

  /** Ways → area features: shell+holes per data block, make-valid,
    * clip (map2db.py:967-1072). Row-local. */
  def areaFeatures(ways: Dataset[Way]): Dataset[Feature] = {
    import ways.sparkSession.implicits._
    ways.filter(w => w.geomType == "MULTIPOLYGON" && w.anum.isDefined)
      .flatMap { w =>
        val (minx, miny, maxx, maxy) = tileBox(w.level, w.tileX, w.tileY)
        val polys = w.coords.map { dblock =>
          GeomOps.polygon(dblock.head.map(c => (c.lon, c.lat)),
            dblock.tail.map(_.map(c => (c.lon, c.lat))))
        }
        val raw = GeomOps.multiPolygon(polys)
        val valid =
          if (raw.isValid) Some(raw) else GeomOps.makeValidPolygonal(raw)
        valid.flatMap { v =>
          val clipped =
            if (GeomOps.boxCovers(v, minx, miny, maxx, maxy)) v
            else GeomOps.clipToBox(v, minx, miny, maxx, maxy)
          if (clipped.isEmpty) None
          else GeomOps.keepPolygonal(clipped).map { kept =>
            Feature(w.anum.get, w.level, w.minz, w.maxz, w.layer,
              jsonArray(w.tags), w.vtags,
              GeomOps.toWkb(GeomOps.normalized(kept)))
          }
        }
      }
  }

  /** The integrity invariants the reference enforces row-by-row as it
    * merges (map2db.py:766-812), checked distributed in one pass:
    *
    *  - `same_level_attr`: duplicates of a feature at one level must
    *    agree on every column except geometry (767-776);
    *  - `cross_level_attr`: duplicates across levels must agree on
    *    everything except geometry/level/zoom range (787-793);
    *  - `zoom_gap`: a feature extending into a lower subfile must
    *    have contiguous zoom coverage — the stored minz equals the
    *    lower subfile's maxzoom + 1 (797-803).
    *
    * Returns (fid, kind) violation rows; empty for a well-formed dbl
    * map. Runs on the pre-merge fragments so the checks see exactly
    * what the reference's serial loop saw. */
  def validate(feats: Dataset[Feature]): DataFrame = {
    val norm = feats.toDF().withColumn("vt",
      array_sort(transform(map_entries(col("vtags")),
        e => concat(e("key"), lit("="), e("value")))))
    val sameLevel = norm.groupBy(col("fid"), col("level"))
      .agg(countDistinct(struct(col("layer"), col("tags"), col("vt"),
        col("minz"), col("maxz"))).as("variants"),
        first(struct(col("layer"), col("tags"), col("vt"))).as("attrs"),
        min(col("minz")).as("minz"), max(col("maxz")).as("maxz"))
    val sameLevelBad = sameLevel.filter(col("variants") > 1)
      .select(col("fid"), lit("same_level_attr").as("kind"))
    // drift BETWEEN levels: compare one canonical attr tuple per level
    // (same-level disagreement is already its own violation above)
    val crossBad = sameLevel.groupBy(col("fid"))
      .agg(countDistinct(col("attrs")).as("variants"))
      .filter(col("variants") > 1)
      .select(col("fid"), lit("cross_level_attr").as("kind"))
    val w = Window.partitionBy(col("fid")).orderBy(col("level"))
    val gapBad = sameLevel
      .withColumn("prev_maxz", lag(col("maxz"), 1).over(w))
      .filter(col("prev_maxz").isNotNull &&
        col("minz") =!= col("prev_maxz") + 1)
      .select(col("fid"), lit("zoom_gap").as("kind"))
    sameLevelBad.unionByName(crossBad).unionByName(gapBad)
  }

  /** Cross-tile + cross-level merge (map2db.py:747-812): geometry is
    * the union of the max-level fragments; m2db_minz extends to the
    * lowest level seen; attributes come from the max level. One fid
    * exchange, reused by the window and the aggregate. */
  def mergeFeatures(feats: Dataset[Feature]): DataFrame = {
    val w = Window.partitionBy(col("fid"))
    feats.toDF()
      .withColumn("max_level", max(col("level")).over(w))
      .withColumn("minz_all", min(col("minz")).over(w))
      .filter(col("level") === col("max_level"))
      .groupBy(col("fid"))
      .agg(
        first(col("max_level")).as("m2db_level"),
        first(col("minz_all")).as("m2db_minz"),
        first(col("maxz")).as("m2db_maxz"),
        first(col("layer")).as("m2db_layer_num"),
        first(col("tags")).as("m2db_tags"),
        first(col("vtags")).as("vtags"),
        GeomFunctions.unionWkb(col("wkb")).as("m2db_geometry"))
  }

  /** Dynamic variable-tag columns, as the reference ALTER TABLEs them
    * in (map2db.py:856-871): the key universe is the (small) tag
    * dictionary, so collecting distinct keys is driver-safe. */
  def explodeVtags(merged: DataFrame): (DataFrame, Seq[String]) = {
    val keys = merged.select(explode(map_keys(col("vtags"))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val withCols = keys.foldLeft(merged) { (df, k) =>
      df.withColumn(k, col("vtags").getItem(k))
    }
    (withCols.drop("vtags"), keys)
  }

  /** `release()` drops every relation the build persisted (the decoded
    * tile rows + the per-table results); call it after the last action
    * on the tables (e.g. after the sink finishes). `decodedTiles()`
    * reads the executor-side decode counter — a decode-once pipeline
    * keeps it at the file's non-empty tile count (pinned by
    * MapsforgeSpec). */
  case class MapTables(points: DataFrame, lines: DataFrame,
      areas: DataFrame, vtagKeys: Seq[String],
      release: () => Unit = () => (),
      decodedTiles: () => Long = () => 0L)

  /** Non-dbl path (map2db.py:878-885,958-964,1064-1070): no feature
    * ids exist, so every tile fragment becomes its own row — clipped
    * (TRIM_NONUM) but never merged — with a synthetic unique id.
    * The reference numbers rows sequentially in its serial tile walk;
    * a parallel scan has no meaningful order, so ids are unique, not
    * dense (documented divergence). */
  def buildRaw(spark: SparkSession, path: String): MapTables = {
    import spark.implicits._
    val scanned = Mapsforge.scanCached(spark, path)
    val (pois, cachedWays) = (scanned.pois, scanned.ways)

    val rawPoints = pois.flatMap { p =>
      val (minx, miny, maxx, maxy) = tileBox(p.level, p.tileX, p.tileY)
      val g = GeomOps.clipToBox(GeomOps.multiPoint(Seq((p.lon, p.lat))),
        minx, miny, maxx, maxy)
      if (g.isEmpty) None
      else Some(Feature(0L, p.level, p.minz, p.maxz, p.layer,
        jsonArray(p.tags), p.vtags,
        GeomOps.toWkb(GeomOps.normalized(g))))
    }
    val rawLines = cachedWays.filter(_.geomType == "MULTILINESTRING")
      .flatMap { w =>
        val (minx, miny, maxx, maxy) = tileBox(w.level, w.tileX, w.tileY)
        val g = GeomOps.multiLineString(
          w.coords.flatten.map(_.map(c => (c.lon, c.lat))))
        val clipped =
          if (GeomOps.boxCovers(g, minx, miny, maxx, maxy)) g
          else GeomOps.clipToBox(g, minx, miny, maxx, maxy)
        if (clipped.isEmpty) None
        else GeomOps.keepLinear(clipped).map(kept =>
          Feature(0L, w.level, w.minz, w.maxz, w.layer, jsonArray(w.tags),
            w.vtags, GeomOps.toWkb(GeomOps.normalized(kept))))
      }
    val rawAreas = cachedWays.filter(_.geomType == "MULTIPOLYGON")
      .flatMap { w =>
        val (minx, miny, maxx, maxy) = tileBox(w.level, w.tileX, w.tileY)
        val polys = w.coords.map { dblock =>
          GeomOps.polygon(dblock.head.map(c => (c.lon, c.lat)),
            dblock.tail.map(_.map(c => (c.lon, c.lat))))
        }
        val raw = GeomOps.multiPolygon(polys)
        val valid =
          if (raw.isValid) Some(raw) else GeomOps.makeValidPolygonal(raw)
        valid.flatMap { v =>
          val clipped =
            if (GeomOps.boxCovers(v, minx, miny, maxx, maxy)) v
            else GeomOps.clipToBox(v, minx, miny, maxx, maxy)
          if (clipped.isEmpty) None
          else GeomOps.keepPolygonal(clipped).map(kept =>
            Feature(0L, w.level, w.minz, w.maxz, w.layer,
              jsonArray(w.tags), w.vtags,
              GeomOps.toWkb(GeomOps.normalized(kept))))
        }
      }

    // Persisted per table: the explodeVtags key collect is the first
    // action and fills the cache (reading tile rows from the decode
    // cache, clipping once); the sink then reads the cached rows, so
    // decode and clip each run exactly once per table. Persisting
    // also freezes the monotonically_increasing_id values between the
    // key collect and the save.
    def numbered(df: org.apache.spark.sql.Dataset[Feature],
        idName: String): DataFrame =
      Pins.persist(df.toDF()
        .withColumn(idName, monotonically_increasing_id())
        .drop("fid")
        .withColumnsRenamed(Map("level" -> "m2db_level",
          "minz" -> "m2db_minz", "maxz" -> "m2db_maxz",
          "layer" -> "m2db_layer_num", "tags" -> "m2db_tags",
          "wkb" -> "m2db_geometry")))

    val tables = Seq(numbered(rawPoints, "m2db_pnum"),
      numbered(rawLines, "m2db_lnum"), numbered(rawAreas, "m2db_anum"))
    // r17 (guide §2.6): overlap the three independent key collects —
    // see build() below; the decode cache still fills exactly once.
    val Seq((p, pk), (l, lk), (a, ak)) =
      graft.Threads.inParallel(tables.map(t => () => explodeVtags(t)))
    MapTables(p, l, a, (pk ++ lk ++ ak).distinct.sorted,
      release = () => { tables.foreach(Pins.unpin); scanned.release() },
      decodedTiles = () => scanned.tilesDecoded.value)
  }

  /** Full decode→merge for a dbl map. Lines additionally get the
    * endpoint-snap linemerge pass (map2db.py:1080-1182). With
    * `strict`, the reference's integrity checks run first and any
    * violation aborts, as the reference's ValueError would — off by
    * default because at 100 TB a report table beats a crashed job. */
  def build(spark: SparkSession, path: String,
      strict: Boolean = false): MapTables = {
    val scanned = Mapsforge.scanCached(spark, path)
    val (pois, cachedWays) = (scanned.pois, scanned.ways)
    if (strict) {
      // p/l/a ids are independent key spaces — validate per table
      Seq("points" -> validate(pointFeatures(pois)),
        "lines" -> validate(lineFeatures(cachedWays)),
        "areas" -> validate(areaFeatures(cachedWays))).foreach {
        case (table, v) =>
          val bad = v.limit(10).collect()
          require(bad.isEmpty, s"integrity violations in $table: " +
            bad.map(r => s"${r.getLong(0)}:${r.getString(1)}")
              .mkString(", "))
      }
    }
    // Each merged table persists so clip+merge run once: the
    // explodeVtags key collect fills the cache (tile rows come from
    // the decode cache, so the binary decode itself runs exactly
    // once across all three tables) and the sink reads cached rows.
    val points = Pins.persist(mergeFeatures(pointFeatures(pois))
      .withColumnRenamed("fid", "m2db_pnum"))
    val lines = Pins.persist(FeatureMerge.mergeLines(
      mergeFeatures(lineFeatures(cachedWays)), "m2db_geometry")
      .withColumnRenamed("fid", "m2db_lnum"))
    val areas = Pins.persist(mergeFeatures(areaFeatures(cachedWays))
      .withColumnRenamed("fid", "m2db_anum"))
    // r17 (guide §2.6): the three per-table key collects are
    // independent actions — run them from a pool so their merge
    // stages overlap instead of paying three sequential job floors;
    // the shared decode cache computes once under the block
    // manager's per-partition locks whichever thread gets there
    // first.
    val Seq((p, pk), (l, lk), (a, ak)) = graft.Threads.inParallel(Seq(
      () => explodeVtags(points),
      () => explodeVtags(lines),
      () => explodeVtags(areas)))
    MapTables(p, l, a, (pk ++ lk ++ ak).distinct.sorted,
      release = () => {
        Seq(points, lines, areas).foreach(Pins.unpin)
        scanned.release()
      },
      decodedTiles = () => scanned.tilesDecoded.value)
  }
}
