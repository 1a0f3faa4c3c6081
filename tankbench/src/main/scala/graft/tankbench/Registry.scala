package graft.tankbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Bm25Store, Bpe, Dedup, IvfStore, Multimodal, PairStore}
import graft.queries._
import graft.sources._
import graft.streaming.CurationStreams

/** The crawl-curation workload. Each entry is timed as `build` then
  * `count()`, and its row count must equal the count recorded for the
  * generated tables (expected_rows.json).
  */
final class Registry(spark: SparkSession, a: Args, r: Report, t: Tracer,
                     expected: Map[String, Long]) {
  private val dir = a.dataDir
  private val producers = SparkEntry.pairProducers.toSet

  private def runEntry(q: QueryDef): Option[Double] =
    r.attempt(q.name) {
      t.span("entry", "queries", q.name) {
        val df = t.span("build", "queries")(q.build(spark, dir))
        val n =
          if (producers(q.name)) {
            PairStore.invalidate(spark, q.name, dir)
            PairStore.refresh(spark, q.name, dir)(df).count()
          } else df.count()
        // builders may cache intermediates for reuse inside one entry
        spark.catalog.clearCache()
        n
      }
    } { n =>
      expected.get(q.name) match {
        case Some(want) if want == n => None
        case Some(want) => Some(s"$n rows, recorded $want")
        case None => Some(s"no recorded row count ($n rows)")
      }
    }.map(_._2)

  /** One pass over `entries`: (wall of the succeeded entries, per-entry walls). */
  def pass(entries: Seq[QueryDef]): (Double, Seq[(String, Double)]) = {
    val walls = entries.flatMap(q => runEntry(q).map(q.name -> _))
    (walls.map(_._2).sum, walls)
  }

  def warmUp(): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.documents(spark, dir).count()
  }

  // ---------------------------------------------------------- crawl stores

  /** Builds the stores `graft.Bench` builds, each timed on its own. A
    * failed build is a failed op: the entries that would probe it are not
    * allowed to time their derived fallback as if the store served them.
    */
  def buildStores(): Unit = {
    def build(name: String, path: => String)(body: => Unit): Unit =
      r.attempt(s"store:$name")(t.span(s"store:$name", "sources")(body))(_ => None)
        .foreach { case (_, s) =>
          r.layers(s"sources.store_build_s.$name") = (s, "s")
          r.layers(s"sources.store_bytes.$name") = (Env.dirBytes(path), "bytes")
        }
    def table(name: String) = s"${a.workDir}/warehouse/$name"
    build("hash_history", table(HashHistory.tableFor(dir))) {
      HashHistory.create(spark, dir, TextOps.x86HistoryHashes(spark, dir))
    }
    build("gram_history", table(GramHistory.tableFor(dir))) {
      GramHistory.create(spark, dir, TextOps.x86Split(spark, dir)._1, TextOps.DupGramK)
    }
    build("phash_history", table(PhashHistory.tableFor(dir))) {
      PhashHistory.create(spark, dir, VectorOps.x109HistoryFps(spark, dir))
    }
    build("landmark_history", table(LandmarkHistory.tableFor(dir))) {
      LandmarkHistory.create(spark, dir, VectorOps.x113HistoryLms(spark, dir))
    }
    build("frame_history", table(FrameHistory.tableFor(dir))) {
      FrameHistory.create(spark, dir, VectorOps.x116HistoryFrames(spark, dir))
    }
    build("minhash_history", table(MinHashHistory.tableFor(dir))) {
      MinHashHistory.create(spark, dir, TextOps.x123HistoryBands(spark, dir),
        TextOps.x123HistoryShingles(spark, dir))
    }
    build("bm25", Bm25Store.pathFor(dir)) {
      Bm25Store.createFor(spark, dir, Tables.documents(spark, dir))
    }
    r.attempt("store:bpe")(t.span("store:bpe", "sources") {
      Bpe.trainCached(spark, dir, Tables.documents(spark, dir), TextOps.NumBpeMerges)
    })(m => if (m.isEmpty) Some("empty merge table") else None)
      .foreach { case (_, s) => r.layers("sources.store_build_s.bpe") = (s, "s") }
  }

  // ---------------------------------------------------------- crawl stream

  private val CopyOffset = 50000000L

  /** The streaming twins of `CurationStreams` over two micro-batches, as in
    * `graft.tools.StreamingCrawlRehearsal`: batch 1 appends one seeded half
    * of the crawl batch (gate A: each twin's output equals its batch
    * operator on the pre-append store), batch 2 re-probes verbatim copies
    * of it (gate B: every eligible copy is recognized). Returns the wall of
    * the two micro-batches, or None when a twin failed.
    */
  def stream(): Option[Double] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val seed = a.seed
    def half(df: DataFrame, idCol: String): DataFrame =
      df.filter(pmod(xxhash64(col(idCol), lit(seed)), lit(2)) === 0)
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

    val prep = r.attempt("stream:prepare") {
      val docsHalf = half(TextOps.x86Split(spark, dir)._2, "doc_id").localCheckpoint(true)
      val docsLangHalf = half(TextOps.x123Split(spark, dir)._2, "doc_id").localCheckpoint(true)
      val mediaHalf = half(VectorOps.x109Media(spark, dir)
          .filter(!VectorOps.x109IsOriginal || VectorOps.x109MediaBucket >= 60), "media_id")
        .select(col("media_id"), col("kind"), col("content"), col("meta.nFrames").as("n_frames"))
        .localCheckpoint(true)
      val vecsHalf = half(VectorOps.x124Split(spark, dir)._2, "vec_id")
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val ivfDir = s"${a.workDir}/ivf"
      IvfStore.create(spark, ivfDir, VectorOps.x124Split(spark, dir)._1
        .select(col("vec_id"), col("embedding"))): Unit
      def none = sys.error("store missing")
      val audioLms = Multimodal.audioLandmarkRows(mediaHalf.filter(col("kind") === "audio")
        .select(col("media_id"), col("content"))).localCheckpoint(true)
      val videoHalf = mediaHalf.filter(col("kind") === "video")
        .select(col("media_id"), col("content"), col("n_frames")).localCheckpoint(true)
      val arrsHalf = TextOps.shingleArrays(docsLangHalf).localCheckpoint(true)
      val (hf0, hs0) = FrameHistory.scanOrCompute(spark, dir)(none)
      val (bands0, sh0) = MinHashHistory.scanOrCompute(spark, dir)(none)
      val want = Map(
        "gram" -> rows(Dedup.incrementalDupGrams(docsHalf,
          GramHistory.scanOrCompute(spark, dir)(none), k = TextOps.DupGramK)),
        "payload" -> rows(Multimodal.incrementalPayloadNearDups(
          mediaHalf.select(col("media_id"), col("content")),
          PhashHistory.scanOrCompute(spark, dir)(none))),
        "audio" -> rows(Multimodal.incrementalAudioNearDups(audioLms,
          LandmarkHistory.scanOrCompute(spark, dir)(none))),
        "video" -> rows(Multimodal.incrementalVideoNearDups(
          Multimodal.videoFrameRows(videoHalf), hf0, hs0)),
        "neardup" -> rows(Dedup.incrementalNearDups(arrsHalf, bands0, sh0)),
        "embed" -> rows(IvfStore.search(spark, ivfDir,
            vecsHalf.select(col("vec_id").as("query_id"), col("embedding").as("qe")),
            k = 4, nprobe = 4)
          .filter(col("cos_sim") >= 0.999)
          .select(col("query_id").as("batch_id"), col("vec_id").as("hist_id"),
            round(col("cos_sim"), 4).as("cos_sim"))))
      def ids(df: DataFrame, c: String) = df.select(col(c)).as[Long].collect().toSeq.map(_ + CopyOffset)
      val eligible = Map(
        "gram" -> ids(docsHalf.filter(length(col("text")) >= TextOps.DupGramK), "doc_id"),
        "payload" -> ids(mediaHalf, "media_id"),
        "audio" -> ids(audioLms.groupBy(col("media_id")).agg(count(lit(1)).as("n"))
          .filter(col("n") >= 5), "media_id"),
        "video" -> ids(Multimodal.videoFrameRows(videoHalf).select(col("media_id")).distinct(), "media_id"),
        "neardup" -> ids(arrsHalf.filter(col("lang").isNotNull), "doc_id"),
        "embed" -> ids(vecsHalf, "vec_id"))
      val data = (
        docsHalf.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq,
        docsLangHalf.select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
          .as[(Long, String, String, Long)].collect().toSeq,
        mediaHalf.select(col("media_id"), col("content")).as[(Long, Array[Byte])].collect().toSeq,
        mediaHalf.filter(col("kind") === "audio").select(col("media_id"), col("content"))
          .as[(Long, Array[Byte])].collect().toSeq,
        videoHalf.as[(Long, Array[Byte], Int)].collect().toSeq,
        vecsHalf.as[(Long, Array[Float])].collect().toSeq)
      (want, eligible, data, ivfDir)
    }(_ => None)
    if (prep.isEmpty) return None
    val ((want, eligible, (docRows, docLangRows, payloadRows, audioRows, videoRows, vecRows), ivfDir), _) =
      prep.get
    // the twins' stream threads inherit the span open when they start
    t.span("stream", "streaming", "stream") {

    final case class Twin(name: String, add: Int => Unit,
                          q: org.apache.spark.sql.streaming.StreamingQuery,
                          out: ConcurrentLinkedQueue[Row], recognized: Seq[Row] => Set[Long])
    def copyOf(n: Int, id: Long) = if (n == 1) id else id + CopyOffset
    def twin(name: String, recognized: Seq[Row] => Set[Long])
            (mk: (DataFrame => Unit) => (Int => Unit, org.apache.spark.sql.streaming.StreamingQuery)): Twin = {
      val out = new ConcurrentLinkedQueue[Row]()
      val (add, q) = mk(df => df.collect().foreach(out.add))
      Twin(name, add, q, out, recognized)
    }
    def pairsOf(rs: Seq[Row], a: String, b: String, ok: Row => Boolean) =
      rs.filter(x => x.getAs[Long](a) == x.getAs[Long](b) + CopyOffset && ok(x))
        .map(_.getAs[Long](a)).toSet

    val memDocs = MemoryStream[(Long, String)]
    val memDocsLang = MemoryStream[(Long, String, String, Long)]
    val memPayload = MemoryStream[(Long, Array[Byte])]
    val memAudio = MemoryStream[(Long, Array[Byte])]
    val memVideo = MemoryStream[(Long, Array[Byte], Int)]
    val memVecs = MemoryStream[(Long, Array[Float])]
    val twins = Seq(
      twin("gram", rs => rs.filter(x => x.getAs[Long]("doc_id") > CopyOffset &&
          x.getAs[Double]("hist_frac") == 1.0).map(_.getAs[Long]("doc_id")).toSet) { sink =>
        (n => memDocs.addData(docRows.map(x => (copyOf(n, x._1), x._2))): Unit,
          CurationStreams.incrementalDupGrams(memDocs.toDF().toDF("doc_id", "text"), dir,
            TextOps.DupGramK, sink).start())
      },
      twin("payload", rs => pairsOf(rs, "batch_id", "hist_id", _.getAs[Int]("hamming") == 0)) { sink =>
        (n => memPayload.addData(payloadRows.map(x => (copyOf(n, x._1), x._2))): Unit,
          CurationStreams.incrementalPayloadNearDups(
            memPayload.toDF().toDF("media_id", "content"), dir, sink).start())
      },
      twin("audio", rs => pairsOf(rs, "batch_id", "hist_id", _ => true)) { sink =>
        (n => memAudio.addData(audioRows.map(x => (copyOf(n, x._1), x._2))): Unit,
          CurationStreams.incrementalAudioProbe(
            memAudio.toDF().toDF("media_id", "content"), dir, sink).start())
      },
      twin("video", rs => pairsOf(rs, "batch_id", "hist_id", _.getAs[Double]("jaccard") == 1.0)) { sink =>
        (n => memVideo.addData(videoRows.map(x => (copyOf(n, x._1), x._2, x._3))): Unit,
          CurationStreams.incrementalVideoNearDups(
            memVideo.toDF().toDF("media_id", "content", "n_frames"), dir, sink).start())
      },
      twin("neardup", rs => pairsOf(rs, "doc_a", "doc_b", _.getAs[Double]("jaccard") == 1.0)) { sink =>
        (n => memDocsLang.addData(docLangRows.map(x => (copyOf(n, x._1), x._2, x._3, x._4))): Unit,
          CurationStreams.incrementalNearDups(
            memDocsLang.toDF().toDF("doc_id", "text", "lang", "n_chars"), dir, sink).start())
      },
      twin("embed", rs => pairsOf(rs, "batch_id", "hist_id", _.getAs[Double]("cos_sim") == 1.0)) { sink =>
        (n => memVecs.addData(vecRows.map(x => (copyOf(n, x._1), x._2))): Unit,
          CurationStreams.incrementalEmbedProbe(
            memVecs.toDF().toDF("vec_id", "embedding"), ivfDir, sink).start())
      })

    try {
      val b1 = r.attempt("stream:batch1") {
        t.span("stream:batch1", "streaming", "batch1") {
          twins.foreach(_.add(1))
          twins.foreach(_.q.processAllAvailable())
        }
      } { _ =>
        val bad = twins.filter(x => x.out.asScala.map(_.toSeq).toSet != want(x.name))
        if (bad.isEmpty) None
        else Some("gate A: batch 1 differs from the batch operator for " + bad.map(_.name).mkString(","))
      }
      val before = twins.map(_.out.asScala.toSeq)
      val b2 = r.attempt("stream:batch2") {
        t.span("stream:batch2", "streaming", "batch2") {
          twins.foreach(_.add(2))
          twins.foreach(_.q.processAllAvailable())
        }
      } { _ =>
        val misses = twins.zip(before).map { case (x, b) =>
          x.name -> (eligible(x.name).toSet -- x.recognized(x.out.asScala.toSeq.diff(b))).size
        }.filter(_._2 > 0)
        if (misses.isEmpty) None
        else Some("gate B: copies not recognized " + misses.map { case (n, k) => s"$n=$k" }.mkString(","))
      }
      for (x <- b1; y <- b2) yield x._2 + y._2
    } finally twins.foreach(x => try x.q.stop() catch { case _: Throwable => () })
    }
  }
}

object Registry {
  /** The crawl pass: the entries that probe the hash-history and BM25
    * stores and the BPE memo (which the stream below does not touch), the
    * crawl triage that composes three stores, and one pair producer with
    * its consumer. The other text, vector and curation entries are left out
    * so that set-up, pass and stream fit one run of about a minute.
    */
  val crawlNames: Seq[String] = Seq(
    "x86_incremental_dedup", "x106_bpe_encode", "x125_crawl_triage",
    "x103_payload_phash", "x104_payload_neardup", "x94b_hybrid_rrf_store")
  val crawlGroups: Seq[QueryDef] = {
    val all = TextOps.defs ++ VectorOps.defs ++ CurationOps.defs
    val missing = crawlNames.filterNot(n => all.exists(_.name == n))
    require(missing.isEmpty, s"crawl entries not in the registry: ${missing.mkString(",")}")
    all.filter(q => crawlNames.contains(q.name))
  }

  /** Registry order, restricted to `defs` (producers stay ahead of their
    * consumers, as in `graft.Bench`).
    */
  def inRegistryOrder(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val names = defs.map(_.name).toSet
    SparkEntry.registry.filter(q => names(q.name))
  }
}
