package graft.sources

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Distributed MapsForge binary map reader (SURVEY.md §2b).
  *
  * Layout follows the public Mapsforge Binary Map File specification
  * as parsed by the reference (map2db.py:350-728). Scale design: the
  * driver reads only the file header and per-subfile tile indexes
  * (KB–MB); the tiles themselves — the ~100 TB part — are decoded by
  * executors, each task seeking to its tiles' byte ranges. Tasks are
  * ordered by file offset so IO within a partition is sequential.
  * This replaces the reference's single-threaded tile loop
  * (map2db.py:1487-1510) with an embarrassingly parallel scan.
  */
object Mapsforge {

  // ---- in-memory header model --------------------------------------
  case class Subfile(index: Int, level: Int, minzoom: Int, maxzoom: Int,
      offset: Long, length: Long, minX: Long, maxX: Long, minY: Long,
      maxY: Long, tileOffsets: Array[Long]) {
    def xCount: Long = maxX - minX + 1
    def yCount: Long = maxY - minY + 1
    def tileCount: Long = xCount * yCount
  }

  case class Header(minLat: Double, minLon: Double, maxLat: Double,
      maxLon: Double, debugInfo: Boolean, startLat: Option[Double],
      startLon: Option[Double], startZoom: Option[Int],
      lang: Option[String], comment: Option[String],
      createdBy: Option[String], poiTags: Seq[String],
      wayTags: Seq[String], subfiles: Seq[Subfile]) {
    /** dbl maps encode the database license reversed in the last way
      * tag (map2db.py:1363-1369). */
    def dblString: Option[String] =
      wayTags.lastOption.filter(_.startsWith("_lbd_="))
        .map(_.drop("_lbd_=".length).reverse)
    def isDbl: Boolean = dblString.isDefined
  }

  // ---- row models ---------------------------------------------------
  case class Coord(lon: Double, lat: Double)
  case class Poi(level: Int, tileX: Long, tileY: Long, minz: Int, maxz: Int,
      lat: Double, lon: Double, layer: Int, tags: Seq[String],
      vtags: Map[String, String], pnum: Option[Long], fileId: Int = 0)
  /** `coords` is data-block → coordinate-block → nodes; `geomType` is
    * MULTILINESTRING / MULTIPOLYGON (explicit for dbl via lnum/anum,
    * ring-inferred otherwise — map2db.py:634-638). */
  case class Way(level: Int, tileX: Long, tileY: Long, minz: Int, maxz: Int,
      layer: Int, tags: Seq[String], vtags: Map[String, String],
      lnum: Option[Long], anum: Option[Long], geomType: String,
      coords: Seq[Seq[Seq[Coord]]], fileId: Int = 0)

  // ---- binary cursor ------------------------------------------------
  /** Offset-tracking reader over one tile's byte range. */
  final class Cursor(bytes: Array[Byte], var pos: Int = 0) {
    def u8(): Int = { val v = bytes(pos) & 0xFF; pos += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def s16(): Int = u16().toShort.toInt
    def u32(): Long = (u16().toLong << 16) | u16().toLong
    def s32(): Int = u32().toInt
    def u64(): Long = (u32() << 32) | u32()
    def f32(): Float = java.lang.Float.intBitsToFloat(s32())
    def skip(n: Int): Unit = pos += n
    def bytesAt(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n; out
    }
    /** ULEB128, ≤8 bytes (map2db.py:285-292). */
    def vu(): Long = {
      var out = 0L; var i = 0
      while (i < 8) {
        val b = u8()
        out += (b & 0x7FL) << (7 * i)
        if ((b & 0x80) == 0) return out
        i += 1
      }
      throw new IllegalArgumentException(s"bad VBE-U at ${pos - 8}")
    }
    /** SLEB128, sign-magnitude final byte (map2db.py:297-313). */
    def vs(): Long = {
      var out = 0L; var i = 0
      while (i < 8) {
        val b = u8()
        if ((b & 0x80) == 0) {
          out += (b & 0x3FL) << (7 * i)
          return if ((b & 0x40) != 0) -out else out
        }
        out += (b & 0x7FL) << (7 * i)
        i += 1
      }
      throw new IllegalArgumentException(s"bad VBE-S at ${pos - 8}")
    }
    def lstr(): String = {
      val n = vu().toInt
      new String(bytesAt(n), StandardCharsets.UTF_8)
    }
  }

  // ---- coordinate math (driver + executor) --------------------------
  def xFromLon(z: Int, lon: Double): Double =
    math.pow(2, z - 1) * (lon / 180.0 + 1.0)
  def yFromLat(z: Int, lat: Double): Double =
    math.pow(2, z - 1) *
      (2 - (math.log(math.tan((0.25 + lat / 360.0) * math.Pi)) / math.Pi + 1.0))
  def lonFromX(z: Int, x: Long): Double =
    (x.toDouble / math.pow(2, z) * 2.0 - 1.0) * 180.0
  def latFromY(z: Int, y: Long): Double =
    (math.atan(math.exp(
      (((1L << z) - y).toDouble / math.pow(2, z - 1) - 1.0) * math.Pi))
      / math.Pi - 0.25) * 360.0

  // ---- header parse (driver-side; small) ----------------------------
  def readHeader(path: String): Header = {
    val raf = new RandomAccessFile(path, "r")
    try {
      // generous slab: magic+meta, tag dictionaries, subfile table
      val slab = new Array[Byte](math.min(raf.length(), 4 << 20).toInt)
      raf.readFully(slab)
      val c = new Cursor(slab)
      val magic = new String(c.bytesAt(20), StandardCharsets.UTF_8)
      require(magic == "mapsforge binary OSM",
        "Not a valid map file. Wrong header bytes")
      c.skip(24) // header size, file version, file size, creation date
      val minLat = round6(c.s32() / 1e6); val minLon = round6(c.s32() / 1e6)
      val maxLat = round6(c.s32() / 1e6); val maxLon = round6(c.s32() / 1e6)
      c.u16() // tile pixel size
      c.lstr() // projection
      val flags = c.u8()
      val debugInfo = (flags & 0x80) != 0
      val (startLat, startLon) =
        if ((flags & 0x40) != 0)
          (Some(round6(c.s32() / 1e6)), Some(round6(c.s32() / 1e6)))
        else (None, None)
      val startZoom = if ((flags & 0x20) != 0) Some(c.u8()) else None
      val lang = if ((flags & 0x10) != 0) Some(c.lstr()) else None
      val comment = if ((flags & 0x08) != 0) Some(c.lstr()) else None
      val createdBy = if ((flags & 0x04) != 0) Some(c.lstr()) else None
      val poiTags = Seq.fill(c.u16())(c.lstr())
      val wayTags = Seq.fill(c.u16())(c.lstr())
      val nSub = c.u8()
      val subMeta = (0 until nSub).map { i =>
        val level = c.u8(); val minz = c.u8(); val maxz = c.u8()
        val off = c.u64(); val len = c.u64()
        (i, level, minz, maxz, off, len)
      }
      val subfiles = subMeta.map { case (i, level, minz, maxz, off, len) =>
        val minX = xFromLon(level, minLon).toLong
        val maxX = xFromLon(level, maxLon).toLong
        val minY = yFromLat(level, maxLat).toLong
        val maxY = yFromLat(level, minLat).toLong
        val tileCount = ((maxX - minX + 1) * (maxY - minY + 1)).toInt
        // tile index: 5 bytes/tile (+16-byte debug signature)
        val idxStart = off + (if (debugInfo) 16 else 0)
        raf.seek(idxStart)
        val idx = new Array[Byte](tileCount * 5)
        raf.readFully(idx)
        val ic = new Cursor(idx)
        val offsets = Array.fill(tileCount) {
          // msb of byte 0 is the all-water flag (dropped, map2db.py:1478-1483)
          (ic.u8() & 0x7FL) * (1L << 32) + ic.u32()
        }
        Subfile(i, level, minz, maxz, off, len, minX, maxX, minY, maxY,
          offsets)
      }
      Header(minLat, minLon, maxLat, maxLon, debugInfo, startLat, startLon,
        startZoom, lang, comment, createdBy, poiTags, wayTags, subfiles)
    } finally raf.close()
  }

  private def round6(v: Double): Double = math.rint(v * 1e6) / 1e6

  // ---- tile task fan-out --------------------------------------------
  case class TileTask(subfileIndex: Int, level: Int, minzoom: Int,
      maxzoom: Int, tileX: Long, tileY: Long, offset: Long, endOffset: Long,
      debugInfo: Boolean, path: String = "", fileId: Int = 0)

  /** Non-empty tiles as executor tasks, offset-ordered. */
  def tileTasks(h: Header): Seq[TileTask] = tileTasks(h, "", 0)

  def tileTasks(h: Header, path: String, fileId: Int): Seq[TileTask] =
    h.subfiles.flatMap { sf =>
      val n = sf.tileOffsets.length
      (0 until n).flatMap { t =>
        val start = sf.offset + sf.tileOffsets(t)
        val end =
          if (t + 1 < n) sf.offset + sf.tileOffsets(t + 1)
          else sf.offset + sf.length
        if (start == end) None // empty tile
        else Some(TileTask(sf.index, sf.level, sf.minzoom, sf.maxzoom,
          sf.minX + t % sf.xCount, sf.minY + t / sf.xCount, start, end,
          h.debugInfo, path, fileId))
      }
    }

  // ---- tile decode (executor-side) ----------------------------------
  /** Variable-tag values are parsed inline per their `=%x` suffix
    * (map2db.py:424-451). */
  private def parseTags(c: Cursor, count: Int,
      dict: IndexedSeq[String]): (Seq[String], Map[String, String]) = {
    val raw = Seq.fill(count)(dict(c.vu().toInt))
    val vtags = scala.collection.mutable.LinkedHashMap[String, String]()
    val fixed = raw.filter { tag =>
      if (tag.endsWith("=%i")) {
        val v = c.s32()
        vtags(tag.dropRight(3)) =
          if (tag.contains(":colour")) java.lang.Integer.toHexString(v)
          else v.toString
        false
      } else if (tag.endsWith("=%f")) {
        vtags(tag.dropRight(3)) = c.f32().toString; false
      } else if (tag.endsWith("=%h")) {
        vtags(tag.dropRight(3)) = c.s16().toString; false
      } else if (tag.endsWith("=%s")) {
        vtags(tag.dropRight(3)) = c.lstr(); false
      } else true
    }
    (fixed, vtags.toMap)
  }

  def decodeTile(task: TileTask, bytes: Array[Byte], poiDict: IndexedSeq[String],
      wayDict: IndexedSeq[String]): (Seq[Poi], Seq[Way]) = {
    val c = new Cursor(bytes)
    if (task.debugInfo) {
      require(new String(c.bytesAt(32), StandardCharsets.UTF_8)
        .startsWith("###TileStart"), s"bad tile header in $task")
    }
    val zoomRows = (task.minzoom to task.maxzoom).map(_ => (c.vu(), c.vu()))
    val poiCounts = Array.fill(task.minzoom)(0L) ++ zoomRows.map(_._1)
    val wayCounts = Array.fill(task.minzoom)(0L) ++ zoomRows.map(_._2)
    val firstWayOffset = c.vu().toInt + c.pos
    val originLatMd = math.rint(latFromY(task.level, task.tileY) * 1e6).toLong
    val originLonMd = math.rint(lonFromX(task.level, task.tileX) * 1e6).toLong

    // ---- POIs (map2db.py:454-502) ----
    val pois = Seq.newBuilder[Poi]
    for (tz <- poiCounts.indices; _ <- 0L until poiCounts(tz)) {
      if (task.debugInfo) {
        require(new String(c.bytesAt(32), StandardCharsets.UTF_8)
          .startsWith("***POIStart"), "POI Start not found")
      }
      val lat = round6((originLatMd + c.vs()) / 1e6)
      val lon = round6((originLonMd + c.vs()) / 1e6)
      val layerByte = c.u8()
      val tagCount = layerByte & 0x0F
      val layer = layerByte / 16 - 5
      var (tags, vtags) = parseTags(c, tagCount, poiDict)
      val pnum = vtags.get("__dbl_pnum").map(_.toLong)
      vtags -= "__dbl_pnum"
      val flags = c.u8()
      if ((flags & 0x80) != 0) vtags += ("m2db_name" -> c.lstr())
      if ((flags & 0x40) != 0) vtags += ("m2db_house_num" -> c.lstr())
      if ((flags & 0x20) != 0) vtags += ("m2db_elevation" -> c.vu().toString)
      pois += Poi(task.level, task.tileX, task.tileY, tz, task.maxzoom,
        lat, lon, layer, tags, vtags, pnum, task.fileId)
    }
    require(c.pos == firstWayOffset,
      s"Error reading points ${c.pos} != $firstWayOffset")

    // ---- ways (map2db.py:505-664) ----
    val ways = Seq.newBuilder[Way]
    for (tz <- wayCounts.indices; _ <- 0L until wayCounts(tz)) {
      var rings = true
      if (task.debugInfo) {
        require(new String(c.bytesAt(32), StandardCharsets.UTF_8)
          .startsWith("---WayStartX"), "Way Start not found")
      }
      val wayEnd = c.vu().toInt + c.pos
      c.u16() // subtile bitmap
      val layerByte = c.u8()
      val tagCount = layerByte & 0x0F
      val layer = layerByte / 16 - 5
      var (tags, vtags) = parseTags(c, tagCount, wayDict)
      val lnum = vtags.get("__dbl_lnum").map(_.toLong)
      val anum = vtags.get("__dbl_anum").map(_.toLong)
      vtags -= "__dbl_lnum"
      vtags -= "__dbl_anum"
      val flags = c.u8()
      if ((flags & 0x80) != 0) vtags += ("m2db_name" -> c.lstr())
      if ((flags & 0x40) != 0) vtags += ("m2db_house_num" -> c.lstr())
      if ((flags & 0x20) != 0) vtags += ("m2db_reference" -> c.lstr())
      // Label position as offsets from the first way coordinate
      // (map2db.py:556-562). The reference dies on this path — it
      // stores the offsets under "dlat"/"dlon" but reads them back as
      // ["lat"]/["lon"] (map2db.py:621-626) — so graft implements the
      // documented intent: first coord + offset.
      val labelCoords =
        if ((flags & 0x10) != 0)
          Some((round6(c.vs() / 1e6), round6(c.vs() / 1e6))) // (dlat, dlon)
        else None
      val dblockCount = if ((flags & 0x08) != 0) c.vu().toInt else 1
      val ddencode = (flags & 0x04) != 0
      val coords = Seq.newBuilder[Seq[Seq[Coord]]]
      for (_ <- 0 until dblockCount) {
        val cblockCount = c.vu().toInt
        val dblock = Seq.newBuilder[Seq[Coord]]
        var kept = 0
        for (_ <- 0 until cblockCount) {
          var latPrev = originLatMd; var lonPrev = originLonMd
          var dLat = 0L; var dLon = 0L
          val nodeCount = c.vu().toInt
          val cblock = new Array[Coord](nodeCount)
          var firstLonMd = 0L; var firstLatMd = 0L
          var lastLonMd = 0L; var lastLatMd = 0L
          for (n <- 0 until nodeCount) {
            if (ddencode && n > 1) { dLat += c.vs(); dLon += c.vs() }
            else { dLat = c.vs(); dLon = c.vs() }
            cblock(n) = Coord(round6((lonPrev + dLon) / 1e6),
              round6((latPrev + dLat) / 1e6))
            if (n == 0) { firstLonMd = lonPrev + dLon; firstLatMd = latPrev + dLat }
            lastLonMd = lonPrev + dLon; lastLatMd = latPrev + dLat
            lonPrev += dLon; latPrev += dLat
          }
          if (nodeCount > 0) {
            var block: Seq[Coord] = cblock.toSeq
            if (lnum.isEmpty && anum.isEmpty) {
              // Ring inference for non-dbl maps (map2db.py:600-617).
              // The reference compares rounded degrees against a 1e-6
              // tolerance in floating point, which flips arbitrarily
              // for an exact 1 µdeg gap; we have the integer µdeg
              // values, so test |Δ| ≤ 1 µdeg exactly (same intent,
              // deterministic — documented divergence).
              if (nodeCount < 4 ||
                math.abs(firstLonMd - lastLonMd) > 1L ||
                math.abs(firstLatMd - lastLatMd) > 1L)
                rings = false
              else if (block.head != block.last)
                block = block.init :+ block.head // force-close
            }
            dblock += block
            kept += 1
          }
        }
        if (kept > 0) coords += dblock.result()
      }
      var allCoords = coords.result()
      labelCoords.foreach { case (dlat, dlon) =>
        val first = allCoords.head.head.head
        vtags += ("m2db_label_lat" -> round6(first.lat + dlat).toString)
        vtags += ("m2db_label_lon" -> round6(first.lon + dlon).toString)
      }
      require(c.pos == wayEnd, s"Invalid way: ${c.pos} != $wayEnd")
      val geomType =
        if (anum.isDefined) "MULTIPOLYGON"
        else if (lnum.isDefined) "MULTILINESTRING"
        else if (rings) "MULTIPOLYGON"
        else "MULTILINESTRING"
      if (geomType == "MULTILINESTRING") {
        // flatten data blocks: each coordinate block is a linestring
        // (map2db.py:648-662)
        allCoords = Seq(allCoords.flatten)
      }
      ways += Way(task.level, task.tileX, task.tileY, tz, task.maxzoom,
        layer, tags, vtags, lnum, anum, geomType, allCoords, task.fileId)
    }
    (pois.result(), ways.result())
  }

  // ---- distributed scan ---------------------------------------------
  /** Decode every non-empty tile into (Poi, Way) row sets. One task
    * list partition ≈ a contiguous byte range of the file.
    *
    * `permissive = true` skips tiles that fail to decode instead of
    * failing the job (the reference dies on the first bad byte —
    * viable for one file, not for a fleet of them), counting skips in
    * the `graft.badTiles` accumulator so the caller can decide
    * whether the loss is acceptable. */
  def scan(spark: SparkSession, path: String, numPartitions: Int = 0,
      permissive: Boolean = false): (Dataset[Poi], Dataset[Way]) =
    scanMany(spark, Seq(path), numPartitions, permissive)

  /** A scan whose decoded tile rows are persisted, so the (expensive)
    * binary decode materializes at most once no matter how many
    * downstream actions consume `pois`/`ways`. The reference reads
    * each tile exactly once in its serial loop (map2db.py:1487-1510);
    * this is the distributed equivalent of that discipline.
    *
    * `tilesDecoded` counts executor-side tile decodes — a pipeline
    * that is decode-once keeps it equal to the file's non-empty tile
    * count (MapsforgeSpec pins this). Call `release()` after the last
    * action (e.g. after the sink) to drop the cached rows. */
  final case class CachedScan(pois: Dataset[Poi], ways: Dataset[Way],
      tilesDecoded: org.apache.spark.util.LongAccumulator,
      release: () => Unit)

  def scanCached(spark: SparkSession, path: String,
      numPartitions: Int = 0, permissive: Boolean = false): CachedScan =
    scanManyCached(spark, Seq(path), numPartitions, permissive)

  def scanManyCached(spark: SparkSession, paths: Seq[String],
      numPartitions: Int = 0, permissive: Boolean = false): CachedScan = {
    import spark.implicits._
    val (decoded, counter) =
      decodedTiles(spark, paths, numPartitions, permissive)
    val cached = graft.Pins.persist(decoded)
    CachedScan(cached.flatMap(_._1), cached.flatMap(_._2), counter,
      () => graft.Pins.unpin(cached))
  }

  /** Fleet scan: one job decoding tiles from MANY map files. All
    * headers parse driver-side (KB each); tag dictionaries ship once
    * as a broadcast keyed by fileId; tasks sort by (file, offset) so
    * each partition reads each file sequentially. Rows carry their
    * `fileId` — feature ids are per-file, so any cross-file merge
    * must group by (fileId, fid). */
  def scanMany(spark: SparkSession, paths: Seq[String],
      numPartitions: Int = 0, permissive: Boolean = false)
      : (Dataset[Poi], Dataset[Way]) = {
    import spark.implicits._
    val (decoded, _) = decodedTiles(spark, paths, numPartitions, permissive)
    (decoded.flatMap(_._1), decoded.flatMap(_._2))
  }

  private def decodedTiles(spark: SparkSession, paths: Seq[String],
      numPartitions: Int, permissive: Boolean)
      : (Dataset[(Seq[Poi], Seq[Way])],
        org.apache.spark.util.LongAccumulator) = {
    import spark.implicits._
    val headers = paths.zipWithIndex.map { case (p, i) =>
      (p, i, readHeader(p))
    }
    val tasks = headers.flatMap { case (p, i, h) => tileTasks(h, p, i) }
    val parts =
      if (numPartitions > 0) numPartitions
      else math.max(1, math.min(spark.sparkContext.defaultParallelism,
        tasks.size))
    val dicts = spark.sparkContext.broadcast(headers.map {
      case (_, i, h) => i -> ((h.poiTags.toIndexedSeq,
        h.wayTags.toIndexedSeq))
    }.toMap)
    val badTiles = spark.sparkContext.longAccumulator("graft.badTiles")
    val tileCount =
      spark.sparkContext.longAccumulator("graft.tilesDecoded")
    val taskDs = spark.createDataset(tasks).repartition(parts)
    val decoded = taskDs.mapPartitions { it =>
      // sequential IO per file within the task batch
      val sorted = it.toSeq.sortBy(t => (t.fileId, t.offset))
      var raf: RandomAccessFile = null
      var openPath: String = null
      def file(p: String): RandomAccessFile = {
        if (p != openPath) {
          if (raf != null) raf.close()
          raf = new RandomAccessFile(p, "r"); openPath = p
        }
        raf
      }
      sorted.iterator.map { t =>
        val f = file(t.path)
        val len = (t.endOffset - t.offset).toInt
        val buf = new Array[Byte](len)
        f.seek(t.offset)
        f.readFully(buf)
        val (poiDict, wayDict) = dicts.value(t.fileId)
        tileCount.add(1)
        if (permissive)
          try decodeTile(t, buf, poiDict, wayDict)
          catch { case scala.util.control.NonFatal(_) =>
            badTiles.add(1)
            (Seq.empty[Poi], Seq.empty[Way])
          }
        else decodeTile(t, buf, poiDict, wayDict)
      } ++ { if (raf != null) raf.close(); Iterator.empty }
    }
    (decoded, tileCount)
  }

  def poisDF(spark: SparkSession, path: String): DataFrame =
    scan(spark, path)._1.toDF()
  def waysDF(spark: SparkSession, path: String): DataFrame =
    scan(spark, path)._2.toDF()
}
