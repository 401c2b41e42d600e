package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.fixtures.Fixtures
import graft.functions.PointInPolygon
import graft.operators.{ImageTable, Knn, SpatialJoin}
import graft.plans.SnapshotLog

/**
 * ingest_join: writes beside reads. Each round ingests a seeded,
 * hot-cell-skewed image batch with ImageTable.ingest (geocode, salting
 * census, partitioned write, lineage and snapshot commit), reads it back
 * with ImageTable.readCommitted and feeds Knn.knnJoinTable (seeded query
 * points) and SpatialJoin.polyJoin (seeded polygons). Shuffle, parquet
 * write and the multi-round joins set its time.
 */
object IngestJoin {

  val K = 10
  /** Coarse partition resolution of the ingested table: 4^3 = 64 cells, so
    * a batch of this size writes tens of files, not hundreds. */
  val PRes = 3

  /** Seeded query points: four in five near a city centre (Gaussian, as
    * the data's clusters), one in five uniform over the quadrant, where
    * the data is sparse and kNN needs its wide rounds. Fixed shares, so
    * every seed asks the same mix. */
  def queries(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val cs = Fixtures.cityCenters(seed)
    val r = new scala.util.Random(seed ^ 0x51L)
    spark.createDataFrame((0 until n).map { i =>
      val (lon, lat) =
        if (i % 5 != 4) {
          val c = cs(r.nextInt(cs.length))
          (c._1 + r.nextGaussian() * 0.4, c._2 + r.nextGaussian() * 0.3)
        } else (0.5 + r.nextDouble() * 179.0, 0.5 + r.nextDouble() * 89.0)
      (i.toLong, lon.max(0.5).min(179.5), lat.max(0.5).min(89.5))
    }).toDF("qid", "qlon", "qlat")
  }

  /** Seeded hexagons around data-placed centres, radius 0.2 to 1 degree. */
  def polygons(n: Int, seed: Long): Seq[(Long, Array[Double], Array[Double])] = {
    val cs = Fixtures.cityCenters(seed)
    (0 until n).map { i =>
      val (lon, lat) = Fixtures.place(2000000000L + i, seed ^ 0x90L, cs)
      val r = new scala.util.Random(seed * 31 + i)
      val rad = 0.2 + r.nextDouble() * 0.8
      val rot = r.nextDouble()
      val px = (0 until 6).map(k => (lon + rad * math.cos(rot + k * math.Pi / 3)).max(0.01).min(179.99)).toArray
      val py = (0 until 6).map(k => (lat + rad * math.sin(rot + k * math.Pi / 3)).max(0.01).min(89.99)).toArray
      (i.toLong, px, py)
    }
  }

  /** The committed table as kNN / polygon-join points. */
  def points(t: DataFrame): DataFrame =
    t.select(substring(col("image_id"), 5, 12).cast("long").as("id"),
      col("lon"), col("lat"), col("cell"), col("p_cell"))

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val rows = if (a.smoke) 5000L else 30000L
    val nq = if (a.smoke) 10 else 40
    val np = if (a.smoke) 6 else 16
    // salt every coarse cell above 1/40 of the batch: the hot city cells
    val saltThreshold = math.max(1L, rows / 40)
    val src = ctx.dir("source")
    ctx.stage(3) { _ =>
      Fixtures.images(ctx.spark, rows, a.seed).toDF().write.mode("overwrite").parquet(src)
    }
    // warm-up input: a tenth of the batch runs the same code paths
    val warmSrc = ctx.dir("source_warm")
    val qs = queries(ctx.spark, nq, a.seed).cache()
    qs.count()
    val polys = polygons(np, a.seed)
    val polyDf = ctx.spark.createDataFrame(polys).toDF("poly_id", "px", "py").cache()
    polyDf.count()
    // warm-up: a tenth of the rows, a quarter of the queries and polygons,
    // through the same code paths (sparse queries included)
    val warmQs = qs.where(col("qid") < nq / 4).cache()
    val warmPolys = polyDf.where(col("poly_id") < np / 4).cache()

    val ingestS = ArrayBuffer.empty[Double]
    val knnS = ArrayBuffer.empty[Double]
    val polyS = ArrayBuffer.empty[Double]
    var last: (String, SnapshotLog.Snapshot, Array[org.apache.spark.sql.Row]) = null
    def timed[T](buf: ArrayBuffer[Double], name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.tracer.span(name)(body)
      buf += (System.nanoTime() - t0) / 1e9
      r
    }
    def round(input: String, path: String, qs: DataFrame, polyDf: DataFrame,
              measured: Boolean): Unit = {
      def body(): Unit = {
        val snap = timed(ingestS, "ImageTable.ingest") {
          ImageTable.ingest(ctx.spark.read.parquet(input), path, pRes = PRes,
            saltThreshold = saltThreshold)
        }
        ctx.tracer.span("SnapshotLog.latest") {
          SnapshotLog.latest(path); SnapshotLog.committedPartitions(path)
        }
        val pts = points(ctx.tracer.span("ImageTable.readCommitted")(
          ImageTable.readCommitted(ctx.spark, path)))
        val knn = timed(knnS, "Knn.knnJoinTable")(Knn.knnJoinTable(pts, qs, K, pRes = PRes).collect())
        timed(polyS, "SpatialJoin.polyJoin") {
          SpatialJoin.polyJoin(pts, polyDf).groupBy("poly_id").count().collect()
        }
        last = (path, snap, knn)
      }
      if (measured) ctx.op("round")(body()) else body()
    }

    ctx.warmup {
      Fixtures.images(ctx.spark, rows / 10, a.seed + 1).toDF().write.parquet(warmSrc)
      round(warmSrc, ctx.dir("table_warm"), warmQs, warmPolys, measured = false)
    }
    Seq(ingestS, knnS, polyS).foreach(_.clear())
    var prev: String = null
    ctx.measure(a.seconds) { i =>
      val path = ctx.dir(s"table$i")
      round(src, path, qs, polyDf, measured = true)
      if (prev != null) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(prev))
      prev = path
    }

    // correctness: snapshot totals and lineage checksum against the input
    val (path, snap, knnRows) = last
    ctx.check("ingest_join.total_rows", snap.metrics.get("total_rows").contains(rows.toDouble),
      s"total_rows=${snap.metrics.get("total_rows")} input=$rows")
    val inputSum = ctx.spark.read.parquet(src)
      .agg(sum(pmod(xxhash64(col("image_id"), col("phash")), lit(1000000007L)))).head().getLong(0)
    ctx.check("ingest_join.lineage_checksum", snap.partitions.map(_.checksum).sum == inputSum,
      s"lineage=${snap.partitions.map(_.checksum).sum} input=$inputSum")
    // kNN and polygon rows against brute force on a seeded subset
    val pts = points(ImageTable.readCommitted(ctx.spark, path))
    val local = pts.select("id", "lon", "lat").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val qLocal = qs.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rnd = new scala.util.Random(a.seed)
    rnd.shuffle(qLocal.toSeq).take(6).foreach { case (qid, qlon, qlat) =>
      val exp = local.map { case (id, lon, lat) => (CellIndex.distMeters(qlon, qlat, lon, lat), id) }
        .sorted.take(K).map(_._2).toSeq
      val got = knnRows.filter(_.getLong(0) == qid).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      ctx.check("ingest_join.knn_brute_force", got == exp, s"qid=$qid got=$got expected=$exp")
    }
    val subset = rnd.shuffle(polys).take(4)
    val joined = SpatialJoin.polyJoin(pts, polyDf.where(col("poly_id").isin(subset.map(_._1): _*)))
      .select("poly_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    subset.foreach { case (pid, px, py) =>
      val exp = local.collect { case (id, lon, lat) if PointInPolygon.contains(px, py, lon, lat) => id }.toSet
      val got = joined.collect { case (p, id) if p == pid => id }
      ctx.check("ingest_join.poly_brute_force", got == exp,
        s"poly=$pid got=${got.size} expected=${exp.size}")
    }

    val ingestMed = Stats.median(ingestS.toSeq)
    val layers = if (!a.trace) Nil else {
      // polygon-join candidate pairs: points x polygons sharing a 1-degree
      // bin, the pairs polyJoin tests with point_in_poly_cols
      val bins = polyDf.select(col("poly_id"),
          explode(sequence(floor(array_min(col("px"))).cast("long"),
            floor(array_max(col("px"))).cast("long"))).as("bx"),
          floor(array_min(col("py"))).cast("long").as("by0"),
          floor(array_max(col("py"))).cast("long").as("by1"))
        .select(col("bx"), explode(sequence(col("by0"), col("by1"))).as("by"))
      val tests = pts.select(floor(col("lon")).cast("long").as("bx"),
          floor(col("lat")).cast("long").as("by"))
        .join(bins, Seq("bx", "by")).count()
      val matches = SpatialJoin.polyJoin(pts, polyDf).count()
      val knnC = ctx.counters("Knn.knnJoinTable")
      val ingC = ctx.counters("ImageTable.ingest")
      Seq(("ImageTable.ingest_s", ingestMed, "s"),
        ("ImageTable.ingest_jobs", ingC.jobs, "count"),
        ("ImageTable.files_written", ctx.spark.read.parquet(path).inputFiles.length.toDouble, "count"),
        ("ImageTable.max_partition_rows", snap.partitions.map(_.rows).max.toDouble, "count"),
        ("ImageTable.readCommitted_ms", ctx.spanMs("ImageTable.readCommitted"), "ms"),
        ("SnapshotLog.read_ms", ctx.spanMs("SnapshotLog.latest"), "ms"),
        ("Knn.jobs", knnC.jobs, "count"),
        ("Knn.candidate_rows_per_result", knnC.recordsRead / (nq * K), "ratio"),
        ("Knn.shuffle_bytes", knnC.shuffleWriteBytes, "bytes"),
        ("SpatialJoin.pip_tests_per_match", tests.toDouble / math.max(1L, matches), "ratio"),
        ("SpatialJoin.shuffle_bytes", ctx.counters("SpatialJoin.polyJoin").shuffleWriteBytes, "bytes")) ++
        ctx.sparkLayer() ++ ctx.traceLayer()
    }
    val hot = snap.partitions.groupBy(_.partition.split("/")(0)).values.map(_.map(_.rows).sum).max
    Outcome(rows / ingestMed,
      Seq(("ingest_rows_per_s", rows / ingestMed, "rows/s"),
        ("round_p50_ms", Stats.median(ctx.times("round")) * 1e3, "ms"),
        ("knn_join_s", Stats.median(knnS.toSeq), "s"),
        ("poly_join_s", Stats.median(polyS.toSeq), "s"),
        ("round_samples", ctx.times("round").size, "count"),
        ("level_n", ctx.nproc, "threads"), ("input_rows", rows, "rows"),
        ("hot_cell_share", hot.toDouble / rows, "ratio"),
        ("knn_queries", nq, "count"), ("polygons", np, "count")),
      layers)
  }
}
