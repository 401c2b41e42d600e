package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.functions.{geo, PointInPolygon}
import graft.operators.ImageTable

/**
 * tile_scan: the north-rule flagship — geocode (grid and Morton r7/r8/r9
 * encoders), a 256-gon point_in_polygon, distance to 3 query points and a
 * bbox filter, aggregated per tile — over a seeded Fixtures.images parquet
 * table, at local[nproc] and at local[1]. Per-row kernel cost sets its
 * time; it does almost no planning, scheduling or driver work.
 */
object TileScan {

  /** Scans after the counted first one before measuring: the JIT keeps
    * speeding the scan up for about this many (at full size on 4 vCPUs
    * the scan time falls by a third over the first 10 scans and holds
    * from about the 15th; more would not fit the run's time budget). */
  val JitScans = 6

  final case class Query(poly: Array[Double], box: BBox,
                         points: Seq[(Double, Double)])

  /** Seeded query: a 3-degree 256-gon and a 4 x 3 degree box around the
    * hottest city. City 0 draws the same share of rows under every seed,
    * and a box this small seldom reaches another city, so the work per
    * row is alike across seeds. */
  def query(seed: Long): Query = {
    val cs = Fixtures.cityCenters(seed)
    val c = cs(0)
    val poly = (0 until 256).flatMap { i =>
      val a = 2 * math.Pi * i / 256
      Seq(c._1 + 3 * math.cos(a), c._2 + 3 * math.sin(a))
    }.toArray
    val box = BBox((c._1 - 2.0).max(0.01), (c._2 - 1.5).max(0.01),
      (c._1 + 2.0).min(179.99), (c._2 + 1.5).min(89.99))
    Query(poly, box, cs.take(3).toSeq)
  }

  /** The flagship job: one row per tile (Morton r9 cell). */
  def flagship(spark: SparkSession, path: String, q: Query): DataFrame = {
    val t = ImageTable.derive(spark.read.parquet(path))
    def dist(p: (Double, Double)) = {
      val dx = (col("lon") - p._1) * cos(radians((lit(p._2) + col("lat")) / 2))
      val dy = col("lat") - p._2
      sqrt(dx * dx + dy * dy)
    }
    val inPoly = geo.point_in_polygon(col("lon"), col("lat"), q.poly)
    t.where(ImageTable.bboxPredicate(q.box) || inPoly)
      .select(col("cell"), col("cell_r7"), col("cell_r8"), col("cell_r9"),
        inPoly.as("in_poly"), least(q.points.map(dist): _*).as("d"))
      .groupBy("cell_r9")
      .agg(count(lit(1)).as("n"), sum(when(col("in_poly"), 1).otherwise(0)).as("n_poly"),
        min("d").as("dmin"), approx_count_distinct("cell").as("cells"),
        min("cell_r7").as("r7"), min("cell_r8").as("r8"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive digest of the per-tile result: equal digests at two
    * parallelism levels mean the same rows. */
  private def digest(res: DataFrame): Seq[Long] = {
    val r = res.agg(count(lit(1)), sum("n"), sum("n_poly"),
      sum(xxhash64(col("cell_r9"), col("n"), col("n_poly"), col("dmin"),
        col("cells"), col("r7"), col("r8")) % 1000000007L)).head()
    (0 until 4).map(i => r.getLong(i))
  }

  /** Per-tile (n, n_poly) of `cells`, recomputed on the driver from the
    * fixture generator and CellIndex alone. */
  private def driverCounts(rows: Long, seed: Long, q: Query,
                           tiles: Set[Long]): Map[Long, (Long, Long)] = {
    val cs = Fixtures.cityCenters(seed)
    val rects = CellIndex.coverRects(q.box)
    val px = q.poly.indices.collect { case i if i % 2 == 0 => q.poly(i) }.toArray
    val py = q.poly.indices.collect { case i if i % 2 == 1 => q.poly(i) }.toArray
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    var id = 0L
    while (id < rows) {
      val (lon0, lat0) = Fixtures.place(id, seed, cs)
      val x = CellIndex.toX(lon0); val y = CellIndex.toY(lat0)
      val xb = CellIndex.bin(x); val yb = CellIndex.bin(y)
      val tile = CellIndex.cellId(x, y, 9)
      if (tiles(tile)) {
        val (lon, lat) = (CellIndex.getLon(x), CellIndex.getLat(y))
        val pip = PointInPolygon.contains(px, py, lon, lat)
        val inBox = rects.exists { case ((x0, x1), (y0, y1)) =>
          xb >= x0 && xb <= x1 && yb >= y0 && yb <= y1 }
        if (pip || inBox) {
          val (n, np) = acc.getOrElse(tile, (0L, 0L))
          acc(tile) = (n + 1, np + (if (pip) 1 else 0))
        }
      }
      id += 1
    }
    acc.toMap
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val rows = if (a.smoke) 40000L else 500000L
    val path = ctx.dir("images")
    val q = query(a.seed)
    // input splits small enough that local[nproc] gets several per thread
    ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", 2L << 20)
    ctx.stage(3) { _ =>
      Fixtures.images(ctx.spark, rows, a.seed).toDF().write.mode("overwrite")
        .option("parquet.block.size", 1 << 20).parquet(path)
    }
    def scan(name: String): Unit =
      ctx.op(name)(ctx.tracer.span("spark.flagship")(noop(flagship(ctx.spark, path, q))))

    // local[nproc]: the throughput level. Set-up counts the first scan, as
    // every workload counts its first operation; the JIT keeps speeding
    // the scan up for several more, which are left out of set-up
    ctx.warmup(noop(flagship(ctx.spark, path, q)))
    val jit0 = System.nanoTime()
    (0 until JitScans).foreach(_ => noop(flagship(ctx.spark, path, q)))
    ctx.log(f"JIT warm-up, $JitScans scans: ${(System.nanoTime() - jit0) / 1e9}%.2f s")
    ctx.measure(a.seconds, min = 5)(_ => scan("scan_n"))
    val sparkN = ctx.sparkLayer()
    val digestN = digest(flagship(ctx.spark, path, q))
    // a seeded subset of occupied tiles, checked against the driver
    val tiles = flagship(ctx.spark, path, q).select("cell_r9", "n", "n_poly")
      .orderBy(xxhash64(col("cell_r9"), lit(a.seed))).limit(24).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expect = driverCounts(rows, a.seed, q, tiles.keySet)
    ctx.check("tile_scan.tile_counts", tiles.nonEmpty && expect == tiles,
      s"spark=$tiles driver=$expect")

    // local[1]: the same job on the same input, for the scaling pair (the
    // JIT and the codegen cache are warm; one scan warms the new session)
    ctx.startSession(1)
    ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", 2L << 20)
    noop(flagship(ctx.spark, path, q))
    ctx.measure(a.seconds / 2, min = 2)(_ => scan("scan_1"))
    val digest1 = digest(flagship(ctx.spark, path, q))
    ctx.check("tile_scan.levels_agree", digestN == digest1,
      s"local[${ctx.nproc}]=$digestN local[1]=$digest1")

    val tN = Stats.median(ctx.times("scan_n"))
    val t1 = Stats.median(ctx.times("scan_1"))
    val layers = if (!a.trace) Nil else {
      // per-row kernel cost, single core: noop-sink A/B against a plain scan
      def best(df: => DataFrame): Double =
        (0 until 2).map { _ =>
          val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0).toDouble
        }.min
      // (over phash alone: a scan of every column would bury the encoders)
      val raw = ctx.spark.read.parquet(path).select("phash")
      val plain = best(raw)
      val derived = best(ImageTable.derive(raw))
      val ll = ImageTable.derive(raw).select("lon", "lat")
      val withPip = best(ll.select(geo.point_in_polygon(col("lon"), col("lat"), q.poly)))
      val lonLat = best(ll)
      Seq(("functions.geocode_ns_per_row", (derived - plain) / rows, "ns"),
        ("functions.pip_ns_per_row", (withPip - lonLat) / rows, "ns")) ++
        sparkN ++ ctx.traceLayer()
    }
    Outcome(rows / tN,
      Seq(("tile_rows_per_s", rows / tN, "rows/s"),
        ("scaling_eff", t1 / tN / ctx.nproc, "ratio"),
        ("scan_p50_ms_local_n", tN * 1e3, "ms"), ("scan_p50_ms_local_1", t1 * 1e3, "ms"),
        ("scan_samples_local_n", ctx.times("scan_n").size, "count"),
        ("scan_samples_local_1", ctx.times("scan_1").size, "count"),
        ("level_1", 1, "threads"), ("level_n", ctx.nproc, "threads"),
        ("input_rows", rows, "rows")),
      layers)
  }
}
