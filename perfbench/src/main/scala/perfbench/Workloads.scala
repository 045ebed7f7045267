package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GeomOps, TextFunctions}
import graft.operators.{Dedup, FeatureMerge, MapPipeline, PipelineE2e,
  Similarity, TextAnalysis}
import graft.sources.{FdoSink, Mapsforge}

/** One workload: a complete run the benchmark times, the check of its
  * output, and a traced run that makes the same calls into the program
  * inside spans. Each run is closed-loop: the next starts only after
  * this one has returned and been checked. */
trait Workload {
  /** Input records: map POIs + ways, documents, or vectors. */
  def inputRecords: Long
  def inputBytes: Long
  /** Untimed warm-up runs between the cold run and the timed ones. */
  def warmUps: Int = 2
  /** Untimed, before each run: give the run a clean slate. */
  def prepare(): Unit = ()
  /** The timed run, every output committed when it returns. */
  def run(): Unit
  /** None when the last run's output is correct, else why not. */
  def check(): Option[String]
  /** Committed output bytes of the last run. */
  def outputBytes: Long
  /** Untimed, after each check. */
  def cleanup(): Unit = ()
  /** The traced run; returns per-layer metrics. Checked like run(). */
  def traced(tr: Trace, tl: TaskListener): Map[String, Double]
}

object Workload {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  def filesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(filesUnder).sum
    else if (f.getName.endsWith(".crc")) 0L
    else 1L

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** The record count the generator wrote beside its input. */
  def records(input: String): Long = lines(s"$input/records.txt").head.toLong

  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty)

  /** Frees every pin the program's modules hold, through their own
    * public release functions, so no run reuses a previous run's
    * cached state. */
  def releasePins(): Unit = {
    Dedup.releaseLshCache()
    Similarity.releaseSimCache()
    graft.operators.MapBench.releaseFleetCache()
    graft.operators.LinkGraph.releaseGraphCache()
  }
}

/** map2db: one seeded dbl `.map` through `FdoSink.map2db`, writing the
  * RFC16 parquet directory and the single-file SQLite. */
final class MapWorkload(spark: SparkSession, input: String, work: String)
    extends Workload {
  private val src = s"$input/input.map"
  /** (kind, id) -> (minz, maxz, measure, tolerance); the measure is
    * the lon of a point, the length of a line, the area of an area. */
  private val truth = Workload.lines(s"$input/truth.tsv").map { l =>
    val f = l.split('\t')
    (f(0), f(1).toLong) -> (f(2).toInt, f(3).toInt, f(4).toDouble, f(5).toDouble)
  }.toMap
  private val tables = Seq(("p", "points", "m2db_pnum"),
    ("l", "lines", "m2db_lnum"), ("a", "areas", "m2db_anum"))
  private var n = 0
  private def out = s"$work/map2db-$n.d"
  private def db = s"$work/map2db-$n.db"

  val inputBytes: Long = new File(src).length()
  val inputRecords: Long = Workload.records(input)

  override def prepare(): Unit = n += 1

  def run(): Unit = FdoSink.map2db(spark, src, out, Some(db), _ => ())

  def outputBytes: Long =
    Workload.sizeOf(new File(out)) + Workload.sizeOf(new File(db))

  override def cleanup(): Unit = {
    Workload.delete(new File(out)); Workload.delete(new File(db))
  }

  def check(): Option[String] = tables.view.flatMap { case (k, t, id) =>
    val want = truth.count(_._1._1 == k)
    val rows = spark.read.parquet(s"$out/$t")
      .select(col(id), col("m2db_minz"), col("m2db_maxz"),
        col("m2db_geometry")).collect()
    val inDb = FdoSink.readSqliteTable(spark, db, t).count()
    if (rows.length != want) Some(s"$t: ${rows.length} rows, want $want")
    else if (inDb != want) Some(s"$t.db: $inDb rows, want $want")
    else rows.view.flatMap { r =>
      val fid = r.getLong(0)
      truth.get((k, fid)) match {
        case None => Some(s"$t: unexpected feature $fid")
        case Some((minz, maxz, measure, tol)) =>
          val g = GeomOps.fromWkb(r.getAs[Array[Byte]](3))
          val got = k match {
            case "p" => g.getCoordinate.x
            case "l" => g.getLength
            case _ => g.getArea
          }
          val parts = g.getNumGeometries
          if (r.getInt(1) != minz || r.getInt(2) != maxz)
            Some(s"$t $fid: zoom [${r.getInt(1)},${r.getInt(2)}], " +
              s"want [$minz,$maxz]")
          else if (parts != 1) Some(s"$t $fid: $parts parts, want 1")
          else if (math.abs(got - measure) > tol)
            Some(s"$t $fid: measure $got, want $measure")
          else None
      }
    }.headOption
  }.headOption

  /** `FdoSink.map2db`'s own steps, in its order, one span each:
    * `readHeader`, `MapPipeline.build` (decode, clip and merge, with the
    * program's threads and pins), `FdoSink.write` (with the
    * `config.toml` map2db writes after it), `writeSqlite`. The build
    * runs decode, clip and merge as fused stages of the same jobs, so
    * they are measured aside, after the run, one layer at a time
    * through the functions `build` composes: the decode alone, the
    * clip over the cached decode, the merge over the cached fragments. */
  def traced(tr: Trace, tl: TaskListener): Map[String, Double] = {
    prepare()
    val h = tr.span("Mapsforge.header") { Mapsforge.readHeader(src) }
    val mt = tr.span("MapPipeline.build") { MapPipeline.build(spark, src) }
    tr.span("FdoSink.write") {
      FdoSink.write(spark, mt, h, src, out)
      Files.write(Paths.get(out, "config.toml"),
        FdoSink.configToml(h, out, mt.vtagKeys).getBytes(UTF_8))
    }
    tr.span("FdoSink.sqlite") { FdoSink.writeSqlite(spark, mt, h, src, db) }
    mt.release()

    val scan = Mapsforge.scanCached(spark, src)
    val (nPois, nWays) = tr.aside("Mapsforge.decode") {
      (scan.pois.count(), scan.ways.count())
    }
    val frags = Seq(MapPipeline.pointFeatures(scan.pois),
      MapPipeline.lineFeatures(scan.ways),
      MapPipeline.areaFeatures(scan.ways)).map(_.persist())
    val nFrags = tr.aside("MapPipeline.clip") { frags.map(_.count()).sum }
    val merged = Seq(MapPipeline.mergeFeatures(frags(0)),
      FeatureMerge.mergeLines(MapPipeline.mergeFeatures(frags(1)),
        "m2db_geometry"),
      MapPipeline.mergeFeatures(frags(2))).map(_.persist())
    tr.aside("FeatureMerge.merge") { merged.foreach(_.count()) }
    (frags ++ merged).foreach(_.unpersist())
    scan.release()
    val nFeatures = tables.map(t => spark.read.parquet(s"$out/${t._2}").count()).sum
    val merge = tl.totals(tl.jobsOf("FeatureMerge.merge"), _.reduceSide)
    Map(
      "Mapsforge.header_s" -> tr.seconds("Mapsforge.header"),
      "Mapsforge.decode_s" -> tr.seconds("Mapsforge.decode"),
      "Mapsforge.tiles" -> mt.decodedTiles().toDouble,
      "Mapsforge.records" -> (nPois + nWays).toDouble,
      "Mapsforge.bad_tiles" -> tl.accumulators("graft.badTiles").toDouble,
      "MapPipeline.build_s" -> tr.seconds("MapPipeline.build"),
      "MapPipeline.clip_s" -> tr.seconds("MapPipeline.clip"),
      "MapPipeline.fragments" -> nFrags.toDouble,
      "MapPipeline.clip_dropped" -> (nPois + nWays - nFrags).toDouble,
      "FeatureMerge.merge_s" -> tr.seconds("FeatureMerge.merge"),
      "FeatureMerge.features" -> nFeatures.toDouble,
      "FeatureMerge.merge_ratio" -> nFeatures.toDouble / nFrags,
      "FeatureMerge.shuffle_mb" -> merge.shuffleReadBytes / 1e6,
      "FeatureMerge.skew" -> merge.skew,
      "FdoSink.write_s" -> tr.seconds("FdoSink.write"),
      "FdoSink.sqlite_s" -> tr.seconds("FdoSink.sqlite"),
      "FdoSink.bytes" -> outputBytes.toDouble,
      "FdoSink.files" -> (Workload.filesUnder(new File(out)) + 1).toDouble)
  }
}

/** corpus_prep: `PipelineE2e.d21PipelineE2e` over a seeded `documents`
  * table, checked against the DuckDB oracle of `PipelineE2e.d21Sql`. */
final class CorpusWorkload(spark: SparkSession, input: String)
    extends Workload {
  private val expected = Workload.lines(s"$input/oracle.tsv")
  private var result: Seq[String] = Nil

  val inputBytes: Long = new File(s"$input/documents.parquet").length()
  val inputRecords: Long = Workload.records(input)

  private def render(df: DataFrame): Seq[String] =
    df.collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}")
      .toSeq

  def run(): Unit = result = render(PipelineE2e.d21PipelineE2e(spark, input))

  def check(): Option[String] =
    if (result == expected) None
    else Some("d21 result differs from the oracle: " +
      result.zipAll(expected, "(none)", "(none)").find(p => p._1 != p._2)
        .map { case (got, want) => s"got '$got', want '$want'" }.get)

  def outputBytes: Long = result.map(_.getBytes(UTF_8).length + 1L).sum

  override def cleanup(): Unit = result = Nil

  /** d21's own steps, one span each: its near-dup clustering
    * (`Dedup.d14Labels`, memoized per session, so the call inside d21
    * reuses it) and then `d21PipelineE2e` itself. Inside the d21 span,
    * the gate is the jobs of the program's `pinCheckpoint`; the jobs
    * after it are decontamination, sampling and the per-source totals,
    * which Spark runs as one query. Aside, after the run: the MinHash
    * signature pass alone. The census counts reuse a copy of d21's gate
    * and contamination join, outside every span. */
  def traced(tr: Trace, tl: TaskListener): Map[String, Double] = {
    val labels = tr.span("Dedup.cluster") { Dedup.d14Labels(spark, input) }
    result = tr.span("PipelineE2e.d21") {
      render(PipelineE2e.d21PipelineE2e(spark, input))
    }
    val (gate, rest) = tl.jobsOf("PipelineE2e.d21")
      .filterNot(tl.siteOf(_) == "Tables.load")
      .partition(tl.siteOf(_) == "Similarity.pinCheckpoint")

    val signed = Dedup.withSignature(Dedup.corpusWithPlants(spark, input))
      .select(col("doc_id"), col("shingles"), col("sig")).persist()
    tr.aside("Dedup.signature") { signed.count() }
    val (cand, verified) = CorpusWorkload.pairCensus(signed)
    signed.unpersist()
    val nClusters = labels.select(col("label")).distinct().count()
    val (nGated, nContaminated) = CorpusWorkload.gateCensus(spark, input, labels)
    Map(
      "Dedup.signature_s" -> tr.seconds("Dedup.signature"),
      "Dedup.candidate_pairs" -> cand.toDouble,
      "Dedup.verified_pairs" -> verified.toDouble,
      "Dedup.pair_yield" -> (if (cand == 0) 0.0 else verified.toDouble / cand),
      "Dedup.cluster_s" -> tr.seconds("Dedup.cluster"),
      "Dedup.clusters" -> nClusters.toDouble,
      "Text.gate_s" -> tl.wallSeconds(gate),
      "Text.docs_gated" -> nGated.toDouble,
      "Text.decontam_sample_s" -> tl.wallSeconds(rest),
      "Text.docs_contaminated" -> nContaminated.toDouble,
      "Text.docs_sampled" -> result.map(_.split('\t')(1).toDouble).sum)
  }
}

object CorpusWorkload {
  /** Documents that pass d21's language and length gate, and those of
    * them that share a `ContamN`-gram with the eval set: a copy of
    * d21's gate and contamination join, counted outside every span. */
  def gateCensus(spark: SparkSession, input: String, labels: DataFrame)
      : (Long, Long) = {
    val docs = graft.Tables.load(spark, input, "documents")
    val gated = Dedup.corpusWithPlants(spark, input)
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .withColumn("base_id", col("doc_id") % 1000000L)
      .join(docs.select(col("doc_id").as("base_id"), col("lang")), Seq("base_id"))
      .filter(col("lang") === "en" && TextFunctions.wordStats(col("text"))
        .getField("n_words") >= PipelineE2e.MinWords)
      .select(col("doc_id"), col("text")).persist()
    def grams(df: DataFrame) = explode(array_distinct(
      TextFunctions.wordNgrams(col("text"), TextAnalysis.ContamN)))
    val evalGrams = docs.filter(col("doc_id") < TextAnalysis.EvalDocs)
      .select(grams(docs).as("gram")).distinct()
    val counts = (gated.count(), gated.select(col("doc_id"), grams(gated).as("gram"))
      .join(broadcast(evalGrams), Seq("gram")).select(col("doc_id"))
      .distinct().count())
    gated.unpersist()
    counts
  }

  /** Candidate and verified pairs of the LSH stage, counted outside
    * every span: (doc, bucket root) pairs that share one of the
    * `Dedup.Bands` signature bands in a bucket within the size cap, and
    * those whose shingle Jaccard reaches 0.5 — the star candidates the
    * clustering verifies. */
  def pairCensus(signed: DataFrame): (Long, Long) = {
    val banded = signed.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(Dedup.Bands - 1)), b =>
        struct(b.as("band"), hash(slice(col("sig"), b * Dedup.RowsPerBand + 1,
          lit(Dedup.RowsPerBand))).as("bh")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val roots = banded.groupBy(col("band"), col("bh"))
      .agg(min(col("doc_id")).as("root"), count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= Dedup.MaxBucketSize)
    val sh = signed.select(col("doc_id"), col("shingles"))
    val pairs = banded.join(roots, Seq("band", "bh"))
      .filter(col("doc_id") =!= col("root"))
      .select(col("root"), col("doc_id")).distinct()
      .join(sh.withColumnRenamed("doc_id", "root")
        .withColumnRenamed("shingles", "sa"), "root")
      .join(sh.withColumnRenamed("shingles", "sb"), "doc_id")
      .select(graft.functions.MinHash.sortedJaccard(col("sa"), col("sb"))
        .as("j")).persist()
    val counts = (pairs.count(), pairs.filter(col("j") >= 0.5).count())
    pairs.unpersist()
    counts
  }
}

/** ann_index: reset the committed nav index, build it with
  * `Similarity.ensureNavIndex`, then serve a `d84GraphSearch` batch from
  * it. */
final class AnnWorkload(spark: SparkSession, input: String) extends Workload {
  /** q_id -> exact top-k vec_ids by quantized L2, ties to the smaller id. */
  private val exact: Map[Long, Set[Long]] =
    Workload.lines(s"$input/knn.tsv").map { l =>
      val f = l.split('\t').map(_.toLong)
      f.head -> f.tail.toSet
    }.toMap
  private var result = Seq.empty[(Long, Long)]
  private var reference: Option[Seq[(Long, Long)]] = None
  private var batchMs = 0.0

  val inputBytes: Long = new File(s"$input/embeddings.parquet").length()
  val inputRecords: Long = Workload.records(input)

  /** One: a run costs over twice a map2db or corpus_prep run, and a
    * second warm-up on every ann_index run does not fit the time the
    * benchmark's 70 runs may take. */
  override val warmUps = 1

  override def prepare(): Unit = Similarity.resetNavIndex(spark, input)

  private def search(): Seq[(Long, Long)] = {
    val t0 = System.nanoTime()
    val r = Similarity.d84GraphSearch(spark, input).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSeq
    batchMs = (System.nanoTime() - t0) / 1e6
    r
  }

  def run(): Unit = {
    Similarity.ensureNavIndex(spark, input)
    result = search()
  }

  def recall(result: Seq[(Long, Long)]): Double =
    result.count { case (q, v) => exact.get(q).exists(_.contains(v)) }
      .toDouble / exact.values.map(_.size).sum

  /** Recall@k floor. Correct builds measured above 0.8 on these inputs;
    * a graph below the floor has been broken, not tuned. */
  val MinRecall = 0.5

  def check(): Option[String] = {
    reference = reference.orElse(Some(result))
    if (reference.get != result) Some("search differs from the first run's")
    else if (result.size != exact.size * Similarity.TopK)
      Some(s"${result.size} results, want ${exact.size * Similarity.TopK}")
    else if (recall(result) < MinRecall) Some(s"recall@k ${recall(result)}")
    else None
  }

  def outputBytes: Long =
    Workload.sizeOf(new File(Similarity.navIndexPath(input)))

  /** The untraced run's two calls, one span each: `ensureNavIndex`
    * and the `d84GraphSearch` batch. The commit is the time from the
    * build's last job to the span's end, when
    * `AtomicCommit.publishCommitted` fingerprints and renames the tree.
    * Aside, after the run, the build's two layers one at a time through
    * the public functions `ensureNavIndex` composes, on the inputs it
    * gives them: `kmeansQuantized`, then `navGraphParts` over its
    * centroids. The candidate census counts outside every span. */
  def traced(tr: Trace, tl: TaskListener): Map[String, Double] = {
    prepare()
    import Similarity._
    tr.span("Similarity.build") { ensureNavIndex(spark, input) }
    result = tr.span("Similarity.search") { search() }
    val buildSpan = tr.get("Similarity.build")
    val lastJobEndMs = tl.jobsOf("Similarity.build").map(_.endMs)
      .maxOption.getOrElse(buildSpan.endMs)

    val qz = graft.Tables.load(spark, input, "embeddings")
      .select(col("vec_id"), quantizeVec(col("embedding")).as("qv"))
    val corpus = qz.filter(col("vec_id") >= NumQueries)
    val cells = navCellsFor(corpus.count())
    val init = qz.filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + cells)
      .select(col("vec_id").as("cent_id"), col("qv").as("qc"))
    val train = qz.filter(col("vec_id") >= NumQueries + cells &&
      col("vec_id") < NumQueries + cells + ProvTrainPerCell * cells)
    val cents = tr.aside("Similarity.train") {
      val c = kmeansQuantized(train, init, KmIters).persist()
      c.count()
      c
    }
    val (edges, _, posted) = navGraphParts(corpus, cents)
    edges.persist(); posted.persist()
    val nEdges = tr.aside("Similarity.graph") { edges.count() }
    // candidates: (vector, member of one of its probed cells) pairs
    val ranked = corpus.join(broadcast(cents))
      .withColumn("dist", qDist(col("qv"), col("qc")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("cent_id"))))
      .filter(col("rn") <= CellProbes)
    val nCand = ranked.select(col("vec_id"), col("cent_id").as("cell"))
      .join(posted.select(col("vec_id").as("nbr_id"), col("cell")), "cell")
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id")).distinct().count()
    Seq(cents, edges, posted).foreach(_.unpersist())
    Map(
      "Similarity.build_s" -> buildSpan.seconds,
      "Similarity.train_s" -> tr.seconds("Similarity.train"),
      "Similarity.kmeans_jobs" -> tl.jobsOf("Similarity.train").size.toDouble,
      "Similarity.graph_s" -> tr.seconds("Similarity.graph"),
      "Similarity.candidates" -> nCand.toDouble,
      "Similarity.edges" -> nEdges.toDouble,
      "Similarity.edge_yield" -> nEdges.toDouble / math.max(1L, nCand),
      "Similarity.search_s" -> tr.seconds("Similarity.search"),
      "Similarity.query_ms" -> batchMs,
      "Similarity.recall_at_k" -> recall(result),
      "AtomicCommit.commit_s" -> (buildSpan.endMs - lastJobEndMs) / 1e3,
      "AtomicCommit.index_bytes" -> outputBytes.toDouble)
  }
}
