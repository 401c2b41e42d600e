package graft.perfbench

import java.net.{HttpURLConnection, URL}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cells.CellIndex
import graft.cells.CellIndex.BBox
import graft.fixtures.Fixtures
import graft.fixtures.Fixtures.{NodeRow, RelMemberRow, RelationRow, WayRow}
import graft.operators.PlanetExtract
import graft.oracle.RefOracle
import graft.serving.ExtractServer
import graft.sources.PbfCodec

/**
 * bbox_serve: a closed loop of one client sending seeded bbox GETs to
 * serving.ExtractServer on 127.0.0.1, over planet tables that
 * PlanetExtract.writeTables stored and readTables reads back. Per-request
 * planning, job scheduling, scan pruning, driver collect and PBF encoding
 * set its time; it does little per-row kernel work.
 */
object BboxServe {

  final case class Req(kind: String, b: BBox)

  /** Request mix per cycle of 10: 4 single-cell, 3 multi-cell (0.12 x
    * 0.08 deg), 1 region (1.2 x 0.9 deg), 2 empty. No record of real
    * traffic exists to draw it from; the shares are assumed (reasons in
    * perfbench/METRICS.md) and each run prints the share of entities and of
    * request time each kind carries. Single- and multi-cell boxes centre on
    * seeded planet nodes, so they follow the skewed city clusters; empty
    * boxes lie south of the equator, where the fixture places nothing. A
    * run sends whole cycles. */
  val Mix: Seq[String] = Seq.fill(4)("single") ++ Seq.fill(3)("multi") ++
    Seq("region") ++ Seq.fill(2)("empty")

  def request(i: Int, seed: Long, nNodes: Long, cs: Array[(Double, Double)]): Req = {
    val r = new scala.util.Random(seed * 1000003L + i)
    val kind = Mix(i % Mix.size)
    val n = Fixtures.nodeRow(1 + (r.nextLong() & Long.MaxValue) % nNodes, seed, cs)
    def around(hw: Double, hh: Double) =
      BBox((n.lon - hw).max(0.01), (n.lat - hh).max(0.01),
        (n.lon + hw).min(179.99), (n.lat + hh).min(89.99))
    kind match {
      case "single" =>
        // the interior of the node's grid cell
        val xb = CellIndex.xBin(n.lon); val yb = CellIndex.yBin(n.lat)
        val (x0, y0) = (xb.toLong << CellIndex.BinShift, yb.toLong << CellIndex.BinShift)
        val step = 1L << CellIndex.BinShift
        Req(kind, BBox(CellIndex.getLon((x0 + step / 8).toInt), CellIndex.getLat((y0 + step / 8).toInt),
          CellIndex.getLon((x0 + step * 7 / 8).toInt), CellIndex.getLat((y0 + step * 7 / 8).toInt)))
      case "multi" => Req(kind, around(0.06, 0.04))
      case "region" =>
        // centred on the hottest city, which draws the same share of
        // nodes under every seed, so region extracts are alike in size
        val (lon, lat) = cs(0)
        Req(kind, BBox((lon - 0.6).max(0.01), (lat - 0.45).max(0.01),
          (lon + 0.6).min(179.99), (lat + 0.45).min(89.99)))
      case _ =>
        val lon = 1 + r.nextDouble() * 170
        Req(kind, BBox(lon, -40.0, lon + 0.2, -39.9))
    }
  }

  private def get(port: Int, b: BBox): (Int, Array[Byte]) = {
    val url = new URL(s"http://127.0.0.1:$port/?north=${b.maxLat}&south=${b.minLat}" +
      s"&east=${b.maxLon}&west=${b.minLon}")
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val body = try in.readAllBytes() finally in.close()
    (code, body)
  }

  private def mapOf(r: Row, field: String): Map[String, String] =
    Option(r.getAs[Map[String, String]](field)).getOrElse(Map.empty)

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val (nNodes, nWays, nRels) =
      if (a.smoke) (4000L, 800L, 100L) else (30000L, 6000L, 750L)
    val cs = Fixtures.cityCenters(a.seed)
    val writeS = ArrayBuffer.empty[Double]
    ctx.stage(3) { i =>
      val (n, w, r) = Fixtures.planetTables(ctx.spark, nNodes, nWays, nRels, a.seed)
      val t = PlanetExtract.ingest(n.toDF(), w.toDF(), r.toDF())
      val t0 = System.nanoTime()
      PlanetExtract.writeTables(t, ctx.dir(s"planet$i"), pBits = 3)
      writeS += (System.nanoTime() - t0) / 1e9
    }
    val tables = PlanetExtract.readTables(ctx.spark, ctx.dir("planet2"))
    val server = new ExtractServer(tables, "127.0.0.1", 0)
    val port = server.start()
    val planet = Fixtures.localPlanet(nNodes.toInt, nWays.toInt, nRels.toInt, a.seed)
    val oracle = new RefOracle(planet, strictB1 = false)
    val nodeById = planet.nodes.iterator.map(n => n.id -> n).toMap

    var entities = 0L
    var bodyBytes = 0L
    val latMs = ArrayBuffer.empty[Double]
    // (box kind, latency ms, entities) of every measured request
    val perKind = ArrayBuffer.empty[(String, Double, Long)]
    val checked = ArrayBuffer.empty[(Req, PbfCodec.Decoded)]
    val tracedBoxes = ArrayBuffer.empty[BBox]

    def send(i: Int, measured: Boolean): Unit = {
      val q = request(i, a.seed, nNodes, cs)
      def call() = {
        val t0 = System.nanoTime()
        val (c, b) = ctx.tracer.span("serving.http")(get(port, q.b))
        (c, b, (System.nanoTime() - t0) / 1e6)
      }
      val (code, body, ms) = if (measured) ctx.op(s"request.${q.kind}")(call()) else call()
      if (code != 200) {
        if (!measured) throw new IllegalStateException(s"warm-up request got HTTP $code")
        ctx.failed += 1
        return
      }
      val dec = ctx.tracer.span("sources.decode")(PbfCodec.decodeFile(body))
      if (measured) {
        val n = dec.nodes.size + dec.ways.size + dec.rels.size
        latMs += ms
        perKind += ((q.kind, ms, n.toLong))
        entities += n
        bodyBytes += body.length
      }
      // checked: the first cycle, then a seeded quarter of the rest
      if (measured && (i < Mix.size ||
          Math.floorMod((i.toLong * 0x9E3779B97F4A7C15L) ^ a.seed, 4L) == 0))
        checked += ((q, dec))
      if (ctx.tracer.enabled) tracedBoxes += q.b
    }

    // warm-up: one whole cycle of the mix (codegen, JIT, connection)
    ctx.warmup(Mix.indices.foreach(i => send(1000000 + i, measured = false)))
    val t0 = System.nanoTime()
    var sent = 0
    ctx.measure(a.seconds, min = 2 * Mix.size, period = Mix.size) { i =>
      send(i, measured = true); sent += 1
    }
    // finish the cycle, so every run holds the mix's exact shares
    while (sent % Mix.size != 0) { send(sent, measured = true); sent += 1 }
    val loopS = (System.nanoTime() - t0) / 1e9
    server.stop()
    // the server's phases, replayed in process for each traced request
    // after the loop, so that no replay warms the request after it:
    // (cover rects, plan, exec, encode ms, (files read, files available))
    ctx.tracer.enabled = true
    val replay = tracedBoxes.map(b => replayRequest(ctx, tables, b))
    ctx.tracer.enabled = false

    // correctness on the seeded subset: decoded PBF vs the reference oracle
    checked.foreach { case (q, dec) =>
      val exp = oracle.extract(q.b)
      val got = dec.nodes.map(n => ("node", n.id)) ++ dec.ways.map(w => ("way", w.id)) ++
        dec.rels.map(r => ("relation", r.id))
      val okIds = got.toSet == exp.map(e => (e.kind, e.id)).toSet && got.size == exp.size
      val expCell = exp.filter(_.kind == "node").map(e => e.id -> e.cell).toMap
      val okCells = dec.nodes.forall { n =>
        val src = nodeById(n.id)
        math.abs(n.lon - src.lon) <= 1e-7 && math.abs(n.lat - src.lat) <= 1e-7 &&
          expCell.get(n.id).contains(CellIndex.gridCellOf(src.lon, src.lat))
      }
      ctx.check(s"bbox_serve.oracle.${q.kind}", okIds && okCells,
        s"box=${q.b} got=${got.size} expected=${exp.size} cells=$okCells")
    }
    ctx.check("bbox_serve.subset_nonempty", checked.exists(_._2.nodes.nonEmpty))

    val p50 = Stats.quantile(latMs.toSeq, 0.5)
    val p95 = Stats.quantile(latMs.toSeq, 0.95)
    val layers = if (!a.trace) Nil else {
      val med = (f: ((Int, Double, Double, Double, (Long, Long))) => Double) =>
        if (replay.isEmpty) 0.0 else Stats.median(replay.map(f).toSeq)
      val inProc = med(r => r._2 + r._3 + r._4)
      val filesRead = med(_._5._1.toDouble)
      val filesHeld = replay.map(_._5._2).sum
      Seq(("cells.cover_rects_per_request", med(_._1.toDouble), "count"),
        ("cells.cover_ms", ctx.spanMs("cells.coverRects"), "ms"),
        ("PlanetExtract.plan_ms", med(_._2), "ms"), ("PlanetExtract.exec_ms", med(_._3), "ms"),
        ("PlanetExtract.jobs_per_request", ctx.counters("serving.http").jobs, "count"),
        ("PlanetExtract.files_read_per_request", filesRead, "count"),
        ("PlanetExtract.files_pruned_ratio",
          1 - replay.map(_._5._1).sum.toDouble / math.max(1L, filesHeld), "ratio"),
        ("PlanetExtract.writeTables_s", Stats.median(writeS.toSeq), "s"),
        ("sources.pbf_encode_ms", med(_._4), "ms"),
        ("sources.pbf_bytes_per_entity", bodyBytes.toDouble / math.max(1L, entities), "bytes"),
        ("serving.overhead_ms", ctx.spanMs("serving.http") - inProc, "ms")) ++
        // overhead over the region and empty requests: the same box, or the
        // same empty result, every cycle, where single- and multi-cell
        // boxes vary in size and may come back empty
        ctx.sparkLayer() ++ ctx.traceLayer(Set("request.region", "request.empty"))
    }
    // each box kind's share of the decoded entities and of request time
    val totalMs = perKind.map(_._2).sum
    val shares: Seq[(String, Double, String)] = Mix.distinct.flatMap { k =>
      val ks = perKind.filter(_._1 == k)
      Seq((s"entity_share_$k", ks.map(_._3).sum.toDouble / math.max(1L, entities), "ratio"),
        (s"time_share_$k", ks.map(_._2).sum / totalMs, "ratio"))
    }
    Outcome(latMs.size / loopS,
      Seq[(String, Double, String)](
        ("extract_requests_per_s", latMs.size / loopS, "requests/s"),
        ("extract_p50_ms", p50, "ms"), ("extract_p95_ms", p95, "ms"),
        ("extract_entities_per_s", entities / loopS, "entities/s"),
        ("requests", latMs.size, "count"),
        ("requests_above_p95", latMs.count(_ > p95), "count"),
        ("clients", 1, "count"), ("level_n", ctx.nproc, "threads"),
        ("planet_nodes", nNodes, "rows"), ("planet_ways", nWays, "rows"),
        ("planet_relations", nRels, "rows")) ++ shares,
      layers)
  }

  /** The server's select, drain and encode, run in process on the same
    * tables and box, each phase timed: (cover rects, plan ms, exec ms,
    * encode ms, (files read, files available)). Mirrors ExtractServer's
    * entity iterators. */
  private def replayRequest(ctx: Ctx, t: PlanetExtract.PlanetTables, b: BBox)
      : (Int, Double, Double, Double, (Long, Long)) = ctx.tracer.request("replay") {
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    val tr = ctx.tracer
    val rects = tr.span("cells.coverRects")(CellIndex.coverRects(b)).size
    var t0 = System.nanoTime()
    val frames: Seq[DataFrame] = tr.span("PlanetExtract.plan") {
      val (n, w, r) = PlanetExtract.selectedEntityFrames(t, b)
      val fs = Seq(n.select(t.nodes.columns.map(col): _*).orderBy("id"),
        w.orderBy("id"), r.orderBy("id"))
      fs.foreach(_.queryExecution.executedPlan)
      fs
    }
    val planMs = ms(t0)
    t0 = System.nanoTime()
    val Seq(nodes, ways, rels) = tr.span("PlanetExtract.exec") {
      frames.map(_.toLocalIterator().asScala.toVector)
    }
    val execMs = ms(t0)
    t0 = System.nanoTime()
    tr.span("sources.encode") {
      PbfCodec.writePbfFileStreaming(new java.io.ByteArrayOutputStream(),
        nodes.iterator.map(r => NodeRow(r.getAs[Long]("id"), r.getAs[Double]("lon"),
          r.getAs[Double]("lat"), mapOf(r, "tags"))),
        ways.iterator.map(r => WayRow(r.getAs[Long]("id"),
          r.getAs[scala.collection.Seq[Long]]("refs").toArray, mapOf(r, "tags"))),
        rels.iterator.map(r => RelationRow(r.getAs[Long]("id"),
          r.getAs[scala.collection.Seq[Row]]("members").map(m =>
            RelMemberRow(m.getAs[String]("role"), m.getAs[Byte]("mtype"),
              m.getAs[Long]("ref"))).toArray, mapOf(r, "tags"))))
    }
    val files = frames.map(f => SparkProbe.filesRead(f.queryExecution))
    (rects, planMs, execMs, ms(t0), (files.map(_._1).sum, files.map(_._2).sum))
  }
}
