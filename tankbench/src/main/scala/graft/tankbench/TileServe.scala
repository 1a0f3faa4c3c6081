package graft.tankbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{WebMercator, ZRange}
import graft.server.TankServer
import graft.sources.FeatureStore
import graft.sources.FeatureStore.{AttrField, StoreConfig}
import graft.tiles.{Mvt, TileCache, TileService}
import graft.tiles.TileService.TileConfig

/** The seeded feature set and phase script of the tile-serve workload. */
object TileScript {
  /** Store size: a coarse heatmap scans all 40k features while a z14
    * tile reads a few hundred rows, and set-up plus the script stay near
    * 45 s on 4 cores (100k features would take about 60 s, past the run
    * budget of both workloads).
    */
  val Features = 40000
  val Hotspots = 5
  val TileZooms = 10 to 16
  val TilesPerZoom = 2
  val HeatZooms = 4 to 12 by 2
  val WarmRequests = 100
  val Lookups = 6
  val Posts = 2
  val Puts = 1
  val Deletes = 1
  val Bulks = 1
  val BulkRows = 200
  val FloorEvery = 8

  final case class Feat(uid: String, cls: String, value: Double, lon: Double, lat: Double,
                        geometry: String) {
    def json: String =
      s"""{"type":"Feature","id":"$uid","geometry":$geometry,""" +
        s""""properties":{"class":"$cls","value":$value}}"""
  }

  sealed trait Op { def cls: String }
  final case class Tile(z: Int, x: Int, y: Int, filter: Option[String]) extends Op {
    def cls = "tile_cold"
    def path: String = s"/tile/$z/$x/$y" +
      filter.map(f => "?filter=" + URLEncoder.encode(f, "UTF-8")).getOrElse("")
  }
  final case class Heat(z: Int, x: Int, y: Int) extends Op {
    def cls = "heatmap_cold"
    def path = s"/heatmap/$z/$x/$y"
  }
  final case class Warm(of: Op) extends Op { def cls = "warm" }
  final case class Lookup(f: Feat) extends Op { def cls = "lookup" }
  final case class Post(f: Feat, raw: Tile) extends Op { def cls = "write" }
  final case class Put(f: Feat, newValue: Double, raw: Tile) extends Op { def cls = "write" }
  final case class Delete(f: Feat, raw: Tile) extends Op { def cls = "write" }
  final case class Bulk(fs: Seq[Feat], raw: Tile) extends Op { def cls = "bulk" }
  case object Floor extends Op { def cls = "floor" }

  final case class Script(features: Seq[Feat], phases: Seq[(String, Seq[Op])])

  private def pt(lon: Double, lat: Double) = f"[$lon%.7f,$lat%.7f]"

  def generate(seed: Long): Script = {
    val rnd = new Random(seed)
    // the seed places the hotspots; their spreads and shares are fixed, so
    // every seed yields the same density profile (and comparable tiles)
    val hot = (0 until Hotspots).map(k => (8 + rnd.nextDouble() * 6, 46 + rnd.nextDouble() * 6,
      0.012 + 0.004 * k))
    def near(h: (Double, Double, Double)) =
      (h._1 + rnd.nextGaussian() * h._3, h._2 + rnd.nextGaussian() * h._3 * 0.7)
    val feats = (0 until Features).map { i =>
      val (lon, lat) = near(hot(i % Hotspots))
      val v = i + 0.25
      rnd.nextInt(20) match {
        case k if k < 12 => Feat(s"f$i", "poi", v, lon, lat,
          s"""{"type":"Point","coordinates":${pt(lon, lat)}}""")
        case k if k < 17 =>
          val w = 0.0002 + rnd.nextDouble() * 0.0006; val h = 0.0002 + rnd.nextDouble() * 0.0004
          val ring = Seq((lon, lat), (lon + w, lat), (lon + w, lat + h), (lon, lat + h), (lon, lat))
          Feat(s"f$i", "building", v, lon, lat,
            s"""{"type":"Polygon","coordinates":[[${ring.map { case (a, b) => pt(a, b) }.mkString(",")}]]}""")
        case _ =>
          val pts = Iterator.iterate((lon, lat)) { case (a, b) =>
            (a + (rnd.nextDouble() - 0.5) * 0.004, b + (rnd.nextDouble() - 0.5) * 0.003)
          }.take(2 + rnd.nextInt(5)).toSeq
          Feat(s"f$i", "road", v, lon, lat,
            s"""{"type":"LineString","coordinates":[${pts.map { case (a, b) => pt(a, b) }.mkString(",")}]}""")
      }
    }
    def tileOf(lon: Double, lat: Double, z: Int) = (WebMercator.tileX(lon, z), WebMercator.tileY(lat, z))

    // (1) cold tiles near the hotspot centres, every third one filtered
    val tiles = TileZooms.flatMap { z =>
      (0 until TilesPerZoom).map { k =>
        val h = hot(k % Hotspots)
        val (x, y) = tileOf(h._1 + rnd.nextGaussian() * h._3 * 0.3, h._2 + rnd.nextGaussian() * h._3 * 0.2, z)
        (z, x, y)
      }.distinct
    }.zipWithIndex.map { case ((z, x, y), i) =>
      Tile(z, x, y, if (i % 3 == 2) Some("""{"class":"building"}""") else None)
    }
    // (2) cold heatmaps from continent scale down to city scale
    val heats = HeatZooms.map { z =>
      val (x, y) = tileOf(hot(z % Hotspots)._1, hot(z % Hotspots)._2, z); Heat(z, x, y)
    }
    // (3) warm revisits with Zipf-like popularity over the cached reads
    val cacheable: IndexedSeq[Op] = rnd.shuffle(
      tiles.filter(t => t.filter.isEmpty && t.z <= 15) ++ heats.filter(_.z >= 2))
    val weights = cacheable.indices.map(i => 1.0 / (i + 1))
    val total = weights.sum
    val warm = Seq.fill(WarmRequests) {
      var u = rnd.nextDouble() * total; var i = 0
      while (u > weights(i) && i < weights.size - 1) { u -= weights(i); i += 1 }
      Warm(cacheable(i))
    }
    // (4) lookups of generated features
    val lookups = Seq.fill(Lookups)(Lookup(feats(rnd.nextInt(feats.size))))
    // (5) writes inside cached z14 tiles, each followed by a read of that tile
    val cached14 = tiles.filter(t => t.z == 14 && t.filter.isEmpty)
    def inTile(t: Tile, f: Feat) = f.cls == "poi" && tileOf(f.lon, f.lat, 14) == ((t.x, t.y))
    val targets = rnd.shuffle(feats.filter(f => cached14.exists(inTile(_, f)))).iterator
    def rawOf(f: Feat) = cached14.find(inTile(_, f)).get
    def newPoint(j: Int, t: Tile) = {
      val lon = WebMercator.tileLon(t.x + 0.1 + rnd.nextDouble() * 0.8, 14)
      val lat = WebMercator.tileLat(t.y + 0.1 + rnd.nextDouble() * 0.8, 14)
      Feat(s"w$seed-$j", "poi", 1000000 + j + 0.5, lon, lat,
        s"""{"type":"Point","coordinates":${pt(lon, lat)}}""")
    }
    var j = 0
    def next() = { j += 1; j }
    val writes: Seq[Op] =
      (1 to Posts).map { _ => val t = cached14(rnd.nextInt(cached14.size)); Post(newPoint(next(), t), t) } ++
        (1 to Puts).map { _ => val f = targets.next(); Put(f, 2000000 + next() + 0.5, rawOf(f)) } ++
        (1 to Deletes).map { _ => val f = targets.next(); Delete(f, rawOf(f)) } ++
        (1 to Bulks).map { _ =>
          val t = cached14(rnd.nextInt(cached14.size)); Bulk(Seq.fill(BulkRows)(newPoint(next(), t)), t)
        }
    def withFloor(ops: Seq[Op]) = ops.grouped(FloorEvery).flatMap(_ :+ Floor).toSeq
    Script(feats, Seq("cold_tiles" -> withFloor(rnd.shuffle(tiles)),
      "cold_heatmaps" -> withFloor(heats), "warm" -> withFloor(warm),
      "lookups" -> withFloor(lookups), "writes" -> withFloor(rnd.shuffle(writes))))
  }
}

/** tile-serve: a live `TankServer` over a seeded feature store, driven by
  * one client with four connections in a closed loop through the fixed
  * phases of [[TileScript]].
  */
final class TileServe(spark: SparkSession, a: Args, r: Report, t: Tracer) {
  import TileScript._

  private val Connections = 4
  private val tileCfg = TileConfig(mainAttr = "class", attributes = Seq("class", "value"))
  private def storeCfg(path: String) = StoreConfig(path = path,
    attrs = Seq(AttrField("class", "text"), AttrField("value", "double")),
    targetFileRows = Features / 16)

  final case class Sample(cls: String, secs: Double)
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val bodies = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  // --------------------------------------------------------------- client

  private def http(port: Int, method: String, path: String,
                   body: Option[String]): (Int, Array[Byte]) = {
    val c = new URI(s"http://localhost:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setRequestProperty("Accept-Encoding", "gzip")
    body.foreach { b =>
      c.setDoOutput(true)
      val os = c.getOutputStream; os.write(b.getBytes("UTF-8")); os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val raw = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    val out =
      if ("gzip" == c.getHeaderField("Content-Encoding") && raw.nonEmpty)
        new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes()
      else raw
    (code, out)
  }

  /** One request: timed, 2xx required, then `check`ed. A failure is
    * counted under its own name and its latency is dropped.
    */
  private def call(port: Int, cls: String, method: String, path: String,
                   body: Option[String] = None)(check: Array[Byte] => Option[String]): Option[Array[Byte]] =
    r.attempt(s"$cls $method $path") {
      val t0 = System.nanoTime()
      val (code, out) = http(port, method, path, body)
      (code, out, (System.nanoTime() - t0) / 1e9)
    } { case (code, out, _) =>
      if (code / 100 != 2) Some(s"HTTP $code ${new String(out.take(200), "UTF-8")}") else check(out)
    }.map { case ((_, out, secs), _) => samples.add(Sample(cls, secs)); out }

  private def tileValues(bytes: Array[Byte]): Set[Double] =
    Mvt.decode(bytes).flatMap(_.features).flatMap(_.props.get("value")).collect {
      case d: Double => d
    }.toSet

  private def present(v: Double, want: Boolean)(b: Array[Byte]): Option[String] =
    if (tileValues(b).contains(v) == want) None
    else Some(s"read-after-write: value $v ${if (want) "missing from" else "still in"} the tile")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def attrsAre(f: Feat, value: Double)(b: Array[Byte]): Option[String] = {
    val p = mapper.readTree(b).get("properties")
    if (p != null && p.get("class").asText == f.cls && p.get("value").asDouble == value) None
    else Some(s"lookup ${f.uid}: got ${new String(b, "UTF-8").take(200)}")
  }

  private def execute(port: Int, op: Op): Unit = op match {
    case x: Tile => call(port, x.cls, "GET", x.path)(_ => None).foreach(bodies.put(x.path, _))
    case x: Heat => call(port, x.cls, "GET", x.path)(_ => None).foreach(bodies.put(x.path, _))
    case Warm(of) =>
      val path = of match { case x: Tile => x.path; case x: Heat => x.path; case _ => "" }
      call(port, "warm", "GET", path) { b =>
        Option(bodies.get(path)).filterNot(java.util.Arrays.equals(_, b))
          .map(_ => s"warm body of $path differs from its cold body")
      }
    case Lookup(f) => call(port, "lookup", "GET", s"/${f.uid}")(attrsAre(f, f.value))
    case Post(f, raw) =>
      call(port, "write", "POST", "/", Some(f.json))(_ => None)
        .foreach(_ => call(port, "raw", "GET", raw.path)(present(f.value, want = true)))
    case Put(f, v, raw) =>
      call(port, "write", "PUT", s"/${f.uid}", Some(s"""{"properties":{"value":$v}}"""))(_ => None)
        .foreach { _ =>
          call(port, "raw", "GET", raw.path)(present(v, want = true))
          call(port, "lookup_after_write", "GET", s"/${f.uid}")(attrsAre(f, v))
        }
    case Delete(f, raw) =>
      call(port, "write", "DELETE", s"/${f.uid}")(_ => None)
        .foreach(_ => call(port, "raw", "GET", raw.path)(present(f.value, want = false)))
    case Bulk(fs, raw) =>
      call(port, "bulk", "POST", "/_bulk", Some(fs.map(_.json).mkString("\n"))) { b =>
        val n = mapper.readTree(b).get("ingested").asLong
        if (n == fs.size) None else Some(s"bulk ingested $n of ${fs.size}")
      }.foreach(_ => call(port, "raw", "GET", raw.path)(present(fs.head.value, want = true)))
    case Floor => call(port, "floor", "GET", "/")(_ => None)
  }

  /** Runs a phase's ops over `Connections` closed-loop client threads. */
  private def phase(port: Int, ops: Seq[Op]): Double = {
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val threads = (1 to Connections).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < ops.size) { execute(port, ops(i)); i = next.getAndIncrement() }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------------ run

  def run(t0: Long): Unit = {
    val g0 = System.nanoTime()
    val script = generate(a.seed)
    val genS = (System.nanoTime() - g0) / 1e9
    val storePath = s"${a.workDir}/store"
    val cfg = storeCfg(storePath)

    val loaded = r.attempt("setup:load") {
      import spark.implicits._
      // parse once: write() counts, samples and writes its input
      val good = FeatureStore.ingest(script.features.map(_.json).toDF("raw"), cfg).good.cache()
      FeatureStore.write(good, cfg)
      good.unpersist()
      FeatureStore.read(spark, cfg).count()
    }(n => if (n == script.features.size) None else Some(s"store holds $n of ${script.features.size}"))
    if (loaded.isEmpty) return
    r.named("load_s") = (loaded.get._2, "s")
    val copies = if (a.trace) Seq("replay_a", "replay_b", "replay_c").map { n =>
      val p = s"${a.workDir}/$n"
      Env.copyDir(Paths.get(storePath), Paths.get(p)); p
    } else Nil
    val server = new TankServer(spark, cfg, tileCfg)
    val port = server.start()
    try {
      // warm-up on reads the script never makes (zooms 9 and 17, a z3
      // heatmap, one lookup), so the phases do not time JIT and codegen
      val f = script.features.head
      val warmPaths = Seq("/", s"/tile/9/${WebMercator.tileX(f.lon, 9)}/${WebMercator.tileY(f.lat, 9)}",
        s"/tile/17/${WebMercator.tileX(f.lon, 17)}/${WebMercator.tileY(f.lat, 17)}",
        s"/heatmap/3/${WebMercator.tileX(f.lon, 3)}/${WebMercator.tileY(f.lat, 3)}", s"/${f.uid}")
      r.attempt("setup:warmup")(warmPaths.map(p => p -> http(port, "GET", p, None)._1)) { codes =>
        codes.find(_._2 != 200).map { case (p, c) => s"HTTP $c for $p" }
      }.foreach(w => r.named("warmup_s") = (w._2, "s"))
      val setup = (System.nanoTime() - t0) / 1e9 - genS
      r.endToEnd("setup_s") = (setup, "s")
      r.named("setup_s") = (setup, "s")

      // the direct comparison needs the pre-write snapshot, so it runs
      // (untimed) between the read phases and the write phase
      val walls = script.phases.map { case (name, ops) =>
        if (name == "writes") checkDirect(script, cfg)
        name -> phase(port, ops)
      }
      val passS = walls.map(_._2).sum
      walls.foreach { case (n, s) => r.named(s"phase_${n}_s") = (s, "s") }
      r.endToEnd("pass_s") = (passS, "s")
      r.named("pass_s") = (passS, "s")
      metrics(script, passS)
    } finally server.stop()
    if (a.trace) replay(script, copies)
  }

  private def byClass: Map[String, Seq[Double]] =
    samples.asScala.toSeq.groupBy(_.cls).map { case (k, v) => k -> v.map(_.secs) }

  private def metrics(script: Script, passS: Double): Unit = {
    val c = byClass
    def lat(cls: String, name: String, tail: Boolean = true) =
      c.get(cls).filter(_.nonEmpty).foreach(r.latency(name, _, tail))
    lat("tile_cold", "tile_cold")
    lat("heatmap_cold", "heatmap_cold")
    lat("warm", "warm")
    lat("lookup", "lookup", tail = false)
    lat("write", "write")
    lat("floor", "floor", tail = false)
    val bulk = c.getOrElse("bulk", Nil)
    if (bulk.nonEmpty) r.named("ingest_rows_per_s") = (bulk.size * BulkRows / bulk.sum, "rows/s")
    r.named("serve_rps") = (samples.size / passS, "1/s")
  }

  /** A sample of the cold bodies must equal `TileService.tile` / `heatmap`
    * computed directly on the same snapshot (before the write phase, so
    * the store still holds exactly the generated features).
    */
  private def checkDirect(script: Script, cfg: StoreConfig): Unit = {
    val before = FeatureStore.read(spark, cfg)
    val ops = script.phases.flatMap(_._2)
    val tiles = ops.collect { case x: Tile => x }.zipWithIndex.filter(_._2 % 5 == 0).map(_._1)
    val heats = ops.collect { case x: Heat => x }.filter(h => h.z % 4 == 0)
    tiles.foreach { x =>
      r.attempt(s"check ${x.path}") {
        TileService.tile(before, x.z, x.x, x.y, x.filter.map(_ => "class" -> "building"), tileCfg)
      }(b => Option(bodies.get(x.path)).filterNot(java.util.Arrays.equals(_, b))
        .map(_ => "served tile differs from TileService.tile on the same snapshot"))
    }
    heats.foreach { x =>
      r.attempt(s"check ${x.path}")(TileService.heatmap(before, x.z, x.x, x.y, tileCfg))(b =>
        Option(bodies.get(x.path)).filterNot(java.util.Arrays.equals(_, b))
          .map(_ => "served heatmap differs from TileService.heatmap on the same snapshot"))
    }
  }

  // --------------------------------------------------------------- replay

  /** The same script, single-threaded, straight into `FeatureStore`,
    * `TileService`, `TileCache` and `ZRange` on copies of the freshly
    * loaded store: untraced, traced, untraced again (so the traced replay is
    * compared with the mean of one colder and one warmer untraced replay).
    * Yields the per-layer split, the single-caller service time of each
    * request class and the tracing overhead.
    */
  private def replay(script: Script, copies: Seq[String]): Unit = {
    val Seq(before, traced, after) = copies
    val (beforeS, _) = replayOnce(script, before)
    t.attach()
    val (tracedS, m) = t.span("replay", "server", "replay")(replayOnce(script, traced))
    t.pause()
    val (afterS, _) = replayOnce(script, after)
    r.layers("trace.overhead_pct") = ((tracedS / ((beforeS + afterS) / 2) - 1) * 100, "%")
    val spans = t.allSpans
    Layers.fill(r, t, spans.filter(_.name == "replay"), Nil, Nil)
    def med(k: String) = Stats.median(m.getOrElse(k, Seq(0.0)))
    // each TileService call split into its SQL execution (physical
    // planning, jobs, collect: the query) and the rest (building the query
    // and encoding the MVT on the driver)
    def split(name: String): Seq[(Double, Double, Seq[ExecRec])] =
      spans.filter(_.name == name).map { s =>
        val ex = t.execsUnder(s.id)
        val q = ex.map(_.ms).sum
        (q, (s.end - s.start) / 1e6 - q, ex)
      }
    val tiles = split("TileService.tile")
    val heats = split("TileService.heatmap")
    def medOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    r.layers("sources.read_ms") = (med("read_ms"), "ms")
    r.layers("sources.files") = (med("files"), "count")
    r.layers("sources.files_read") = (medOf(tiles.map(_._3.map(_.scanFiles).sum.toDouble)), "count")
    r.layers("sources.scan_rows_per_result") = (tiles.flatMap(_._3).map(_.scanRows).sum.toDouble /
      math.max(1.0, m.getOrElse("tile_features", Nil).sum), "ratio")
    r.layers("sources.append_ms") = (med("append_ms"), "ms")
    r.layers("sources.rewrite_ms") = (med("rewrite_ms"), "ms")
    r.layers("sources.lookup_ms") = (med("lookup_ms"), "ms")
    r.layers("tiles.tile_query_ms") = (medOf(tiles.map(_._1)), "ms")
    r.layers("tiles.tile_encode_ms") = (medOf(tiles.map(_._2)), "ms")
    r.layers("tiles.heatmap_query_ms") = (medOf(heats.map(_._1)), "ms")
    r.layers("tiles.heatmap_encode_ms") = (medOf(heats.map(_._2)), "ms")
    r.layers("tiles.mvt_bytes") = (med("mvt_bytes"), "bytes")
    val gets = m.getOrElse("cache_get", Nil)
    r.layers("tiles.cache_hit_ratio") = (if (gets.isEmpty) 0.0 else gets.sum / gets.size, "ratio")
    r.layers("tiles.invalidated_per_write") = (Stats.median(m.getOrElse("invalidated", Seq(0.0))), "count")
    r.layers("tiles.invalidate_ms") = (med("invalidate_ms"), "ms")
    r.layers("core.cover_ranges") = (med("cover_ranges"), "count")
    r.layers("core.cover_us") = (med("cover_us"), "us")
    val http = byClass
    r.layers("server.floor_ms") = (Stats.median(http.getOrElse("floor", Seq(0.0))) * 1000, "ms")
    // queueing behind the single request thread: latency under four
    // connections minus the single-caller service time of the same class
    Seq("tile_cold", "heatmap_cold", "warm", "lookup", "write").foreach { cls =>
      val w = (Stats.median(http.getOrElse(cls, Seq(0.0))) - Stats.median(m.getOrElse(s"svc_$cls", Seq(0.0)))) * 1000
      if (cls == "tile_cold") r.layers("server.wait_ms") = (w, "ms")
      r.named(s"wait_${cls}_ms") = (w, "ms")
    }
  }

  private def replayOnce(script: Script, path: String): (Double, Map[String, Seq[Double]]) = {
    import spark.implicits._
    val cfg = storeCfg(path)
    val cache = new TileCache(tileCfg.hashLevel,
      bufferFrac = tileCfg.buffer.toDouble / tileCfg.extent.toDouble)
    val m = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def rec(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    def ms[T](k: String)(body: => T): T = {
      val s = System.nanoTime(); val v = body; rec(k, (System.nanoTime() - s) / 1e6); v
    }
    def read(): DataFrame = t.span("FeatureStore.read", "sources")(ms("read_ms")(FeatureStore.read(spark, cfg)))
    def filterOf(x: Tile) = x.filter.map(_ => "class" -> ("building": Any))
    // The service window holds only what the server does for the request:
    // the cache probe and, on a miss, the snapshot read, the one
    // TileService call and the cache put. The layer readings around it
    // (cover, file count, decoded size) are taken after the window closes;
    // the query/encode split comes from the spans and listener afterwards.
    def tile(x: Tile, svc: String): Array[Byte] = {
      val s0 = System.nanoTime()
      val cached = if (x.filter.isEmpty) cache.get("tile", x.z, x.x, x.y) else None
      val out = cached.getOrElse {
        val f = read()
        val b = t.span("TileService.tile", "tiles")(TileService.tile(f, x.z, x.x, x.y, filterOf(x), tileCfg))
        if (x.filter.isEmpty) cache.put("tile", x.z, x.x, x.y, b)
        b
      }
      rec(s"svc_$svc", (System.nanoTime() - s0) / 1e9)
      if (x.filter.isEmpty) rec("cache_get", if (cached.isDefined) 1 else 0)
      if (cached.isEmpty) {
        val ranges = t.span("ZRange.coverWithBuffer", "core") {
          val c0 = System.nanoTime()
          val rs = ZRange.coverWithBuffer(x.z, x.x, x.y, tileCfg.hashLevel,
            tileCfg.buffer.toDouble / tileCfg.extent.toDouble)
          rec("cover_us", (System.nanoTime() - c0) / 1e3); rs
        }
        rec("cover_ranges", ranges.size)
        rec("files", FeatureStore.read(spark, cfg).inputFiles.length)
        rec("mvt_bytes", out.length)
        rec("tile_features", Mvt.decode(out).map(_.features.size).sum)
      }
      out
    }
    def heat(x: Heat, svc: String): Array[Byte] = {
      val s0 = System.nanoTime()
      val cached = cache.get("heatmap", x.z, x.x, x.y)
      val out = cached.getOrElse {
        val f = read()
        val b = t.span("TileService.heatmap", "tiles")(TileService.heatmap(f, x.z, x.x, x.y, tileCfg))
        cache.put("heatmap", x.z, x.x, x.y, b)
        b
      }
      rec(s"svc_$svc", (System.nanoTime() - s0) / 1e9)
      rec("cache_get", if (cached.isDefined) 1 else 0)
      out
    }
    def invalidate(hashes: Seq[Int]): Unit = t.span("TileCache.invalidateTouched", "tiles") {
      val s = System.nanoTime()
      rec("invalidated", cache.invalidateTouched(hashes))
      rec("invalidate_ms", (System.nanoTime() - s) / 1e6)
    }
    def hashesOf(uid: String): Seq[Int] = t.span("FeatureStore.lookup", "sources") {
      ms("lookup_ms")(FeatureStore.lookup(spark, cfg, uid).select("hash").collect().map(_.getInt(0)).toSeq)
    }
    def append(lines: Seq[String]): Unit = t.span("FeatureStore.append", "sources") {
      val good = FeatureStore.ingest(lines.toDF("raw"), cfg).good.cache()
      ms("append_ms")(FeatureStore.append(good, cfg))
      val hs = good.select("hash").distinct().collect().map(_.getInt(0)).toSeq
      good.unpersist()
      invalidate(hs)
    }
    def write[T](body: => T): T = {
      val s0 = System.nanoTime(); val v = body; rec("svc_write", (System.nanoTime() - s0) / 1e9); v
    }

    val w0 = System.nanoTime()
    script.phases.foreach { case (_, ops) =>
      ops.zipWithIndex.foreach { case (op, i) =>
        t.span(op.cls, "server", s"${op.cls}#$i") {
          op match {
            case x: Tile => tile(x, "tile_cold")
            case x: Heat => heat(x, "heatmap_cold")
            case Warm(x: Tile) => tile(x, "warm")
            case Warm(x: Heat) => heat(x, "warm")
            case Lookup(f) =>
              val s0 = System.nanoTime()
              t.span("FeatureStore.lookup", "sources")(ms("lookup_ms")(FeatureStore.lookup(spark, cfg, f.uid).collect()))
              rec("svc_lookup", (System.nanoTime() - s0) / 1e9)
            case Post(f, raw) => write(append(Seq(f.json))); tile(raw, "raw")
            case Put(f, v, raw) =>
              write {
                val old = hashesOf(f.uid)
                t.span("FeatureStore.update", "sources")(ms("rewrite_ms")(
                  FeatureStore.update(spark, cfg, f.uid, None, Map("value" -> v), old)))
                invalidate(old ++ hashesOf(f.uid))
              }
              tile(raw, "raw")
            case Delete(f, raw) =>
              write {
                val old = hashesOf(f.uid)
                t.span("FeatureStore.delete", "sources")(ms("rewrite_ms")(
                  FeatureStore.delete(spark, cfg, f.uid, old)))
                invalidate(old)
              }
              tile(raw, "raw")
            case Bulk(fs, raw) => append(fs.map(_.json)); tile(raw, "raw")
            case _ =>
          }
        }
      }
    }
    ((System.nanoTime() - w0) / 1e9, m.map { case (k, v) => k -> v.toSeq }.toMap)
  }
}
