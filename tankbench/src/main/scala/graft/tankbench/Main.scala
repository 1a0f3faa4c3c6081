package graft.tankbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload crawl-curation|tile-serve`.
  *
  * Prints the workload's named metrics and context as `[tankbench]` lines,
  * writes the full result (plus spans and per-entry detail when traced) to
  * `--artifact`, and ends with one JSON line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}` — the end-to-end
  * metrics untraced, the per-layer metrics traced.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val loadStart = Jvm.loadAvg
    val r = new Report
    val t0 = System.nanoTime()
    val spark = Env.session(a)
    val tracer = new Tracer(spark, a.trace)
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    try {
      a.workload match {
        case "crawl-curation" => crawlCuration(a, r, spark, tracer, t0)
        case "tile-serve" => new TileServe(spark, a, r, tracer).run(t0)
        case w => sys.error(s"unknown workload $w")
      }
    } finally tracer.pause()
    r.named("rss_peak_mb") = (Jvm.rssPeakMb, "MiB")
    r.endToEnd("heap_live_mb") = (Jvm.heapLiveMb, "MiB")
    r.named("heap_live_mb") = r.endToEnd("heap_live_mb")
    r.named("error_rate") = (r.failed.toDouble / math.max(1L, r.attempted), "ratio")
    if (a.trace) {
      Layers.complete(r)
      tracer.dump(a.artifact.stripSuffix(".json") + ".spans.jsonl")
    }
    spark.stop()

    val ctx = Json.mapper.createObjectNode()
      .put("workload", a.workload).put("seed", a.seed).put("seconds", a.seconds)
      .put("trace", if (a.trace) 1 else 0).put("loadavg_start", loadStart)
      .put("cpus", Env.Cpus).put("machine_cpus", Runtime.getRuntime.availableProcessors)
      .put("data_dir", a.dataDir)
    val flags = ctx.putArray("jvm_flags")
    Jvm.flags.foreach(flags.add)
    ctx.put("commit", a.commit).put("wall_s", since(t0))
    ctx.properties().asScala.foreach(e => println(s"[tankbench] context ${e.getKey}=${e.getValue}"))
    r.named.foreach { case (k, (v, u)) =>
      println(f"[tankbench] ${a.workload} $k%-26s $v $u" +
        r.notes.get(k).map(n => s"  ($n)").getOrElse(""))
    }
    val selfS = tracer.selfByLayer.map { case (l, v) => l -> (v, "s") }
    if (a.trace) {
      r.layers.foreach { case (k, (v, u)) =>
        println(f"[tankbench] ${a.workload} layer $k%-36s $v $u")
      }
      // driver-side time per layer: span time not covered by child spans or jobs
      selfS.foreach { case (l, (v, _)) => println(f"[tankbench] ${a.workload} self $l%-10s $v s") }
    }
    r.failures.foreach { case (op, why) => println(s"[tankbench] failed $op: $why") }

    val correct = r.failures.isEmpty
    def result = Json.mapper.createObjectNode()
      .put("correct", correct).put("attempted", r.attempted).put("failed", r.failed)
    val artifact = result
    artifact.set("context", ctx)
    val fails = artifact.putArray("failures")
    r.failures.foreach { case (o, w) => fails.addObject().put("op", o).put("why", w) }
    artifact.set("end_to_end", Json.metrics(r.endToEnd))
    artifact.set("named", Json.metrics(r.named))
    artifact.set("layers", Json.metrics(r.layers))
    artifact.set("self_s", Json.metrics(selfS))
    artifact.set("detail", r.detail)
    Json.mapper.writeValue(new java.io.File(a.artifact), artifact)
    val line = result
    line.set("metrics", Json.metrics(if (a.trace) r.layers else r.endToEnd))
    println(line)
  }

  private def expectedRows(): Map[String, Long] = {
    val p = sys.props.getOrElse("tankbench.expected", "")
    if (p.isEmpty || !Files.exists(Paths.get(p))) Map.empty
    else {
      val n = Json.mapper.readTree(new java.io.File(p))
      n.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }
  }

  private def detail(r: Report, pass: Int, traced: Boolean, walls: Seq[(String, Double)]): Unit =
    walls.foreach { case (n, s) =>
      r.detail.addObject().put("pass", pass).put("traced", traced).put("entry", n).put("wall_s", s)
    }

  /** A traced pass between two untraced ones, all on a warm JVM; the
    * tracing overhead compares it with the mean of the two. Leaves the
    * tracer paused; the traced pass's detail rows come from its spans.
    */
  private def tracedPass(reg: Registry, entries: Seq[graft.queries.QueryDef], r: Report,
                         t: Tracer): (Double, Seq[(String, Double)]) = {
    val before = reg.pass(entries)
    t.attach()
    val traced = t.span("pass", "queries", "pass")(reg.pass(entries))
    t.pause()
    val after = reg.pass(entries)
    detail(r, 100, traced = false, before._2)
    detail(r, 102, traced = false, after._2)
    r.layers("trace.overhead_pct") = ((traced._1 / ((before._1 + after._1) / 2) - 1) * 100, "%")
    traced
  }

  /** Crawl curation: store builds (set-up), one pass over the crawl
    * entries with pair producers refreshed before their consumers, then
    * the two streaming micro-batches. `pass_s` is the whole script: the
    * registry pass plus the micro-batches.
    */
  def crawlCuration(a: Args, r: Report, spark: org.apache.spark.sql.SparkSession,
                    t: Tracer, t0: Long): Unit = {
    val reg = new Registry(spark, a, r, t, expectedRows())
    val entries = Registry.inRegistryOrder(Registry.crawlGroups)
    reg.warmUp()
    if (a.trace) t.attach()
    reg.buildStores()
    val setup = (System.nanoTime() - t0) / 1e9
    r.endToEnd("setup_s") = (setup, "s")
    r.named("setup_s") = (setup, "s")
    if (a.trace) t.pause()
    val (untracedS, walls) = reg.pass(entries)
    detail(r, 1, traced = false, walls)
    r.named("registry_pass_s") = (untracedS, "s")
    r.latency("entry", walls.map(_._2))
    if (a.trace) {
      tracedPass(reg, entries, r, t)
      t.attach()
    }
    val streamS = reg.stream()
    streamS.foreach { s => r.named("stream_s") = (s, "s") }
    val passS = untracedS + streamS.getOrElse(0.0)
    r.endToEnd("pass_s") = (passS, "s")
    r.named("pass_s") = (passS, "s")
    if (a.trace) {
      t.settle()
      val spans = t.allSpans
      Layers.fill(r, t, spans.filter(s => s.name == "pass" || s.name == "stream" ||
          s.name.startsWith("store:")),
        spans.filter(_.name == "entry"), spans.filter(_.name == "build"))
      spans.filter(_.name == "entry").foreach { s =>
        r.detail.addObject().put("pass", 101).put("traced", true).put("entry", s.op)
          .put("wall_s", (s.end - s.start) / 1e9).put("jobs", t.jobsUnder(s.id).size)
      }
      val prog = t.progress.asScala.toSeq
      def sum(k: String) = prog.map(m => Option(m.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      r.layers("streaming.add_batch_ms") = (sum("addBatch"), "ms")
      r.layers("streaming.planning_ms") = (sum("queryPlanning"), "ms")
      r.layers("streaming.wal_commit_ms") = (sum("walCommit"), "ms")
    }
  }
}
