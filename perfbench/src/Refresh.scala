package perfbench

import graft.functions.TextFns
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Io
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable

/** `refresh`: the daily incremental path over a base index built during
  * set-up. Each day a seeded delta (changed, added, removed, re-posted
  * and unchanged re-crawled docs) lands as files; an AvailableNow
  * `Streams.incrementalMerge` detects changes, the callback drops
  * re-posts with `Dedup.bloomIncremental`, upserts postings and IVF
  * (frozen centroids) and tombstones removals; a batch of reads
  * follows. Postings compact every few days. No read repeats. Each day
  * is one operation, timed from landing to the reads and compaction.
  */
final class Refresh(ctx: Ctx) extends Workload(ctx) {
  import Refresh._

  final case class DocV(text: String, emb: Array[Double], hash: String)
  final case class Delta(
      landed: IndexedSeq[(Long, DocV)],
      removed: IndexedSeq[Long],
      reposts: Set[Long],
      reads: IndexedSeq[Gen.Request])

  private var corpus: Gen#Corpus = _
  private var embeddings: Array[Array[Double]] = _
  private var entities: Gen#Entities = _
  private var base: IndexedSeq[(Long, DocV)] = _
  private var deltas: IndexedSeq[Delta] = _
  private var warmReads: IndexedSeq[Gen.Request] = _

  def generate(): Unit = {
    val clusters = new gen.Clusters(60, Nlist, Dim, 0.12)
    corpus = gen.corpus(CorpusDocs, Companies)
    embeddings = { val r = gen.rng(61); Array.fill(corpus.docs.size)(clusters.point(r)) }
    entities = gen.entities(Companies)
    val keep = Nightly.expectedSurvivors(corpus)
    base = corpus.docs.filter(d => keep(d.id)).map { d =>
      d.id -> DocV(d.text, embeddings(d.id.toInt), Util.md5Hex(d.text.getBytes("UTF-8")))
    }
    val r = gen.rng(62)
    def doc(): DocV = {
      val t = gen.enText(r, 40, 100)
      DocV(t, clusters.point(r), Util.md5Hex(t.getBytes("UTF-8")))
    }
    val live = mutable.LinkedHashMap.from(base)
    var nextId = corpus.docs.size.toLong
    def pick(keys: IndexedSeq[Long], n: Int, avoid: Set[Long]): IndexedSeq[Long] = {
      val out = mutable.LinkedHashSet.empty[Long]
      while (out.size < n) { val k = keys(r.nextInt(keys.size)); if (!avoid(k)) out += k }
      out.toIndexedSeq
    }
    def readRequest(j: Int): Gen.Request = {
      val terms = gen.queryTerms(r, 3)
      Gen.Request(if (j % 2 == 0) "bm25" else "ivf", "", terms.mkString(" "), terms,
        clusters.point(r), repeated = false)
    }
    var landedRows, changedRows, addedRows, removedRows, repostRows = 0
    deltas = (1 to MaxDays).map { _ =>
      val keys = live.keysIterator.toIndexedSeq
      val changed = pick(keys, Changed, Set.empty)
      val removed = pick(keys, Removed, changed.toSet)
      val recrawl = pick(keys, Recrawled, (changed ++ removed).toSet)
      val fresh = changed.map(id => id -> doc())
      val added = (0 until Added).map { _ => nextId += 1; nextId -> doc() }
      // a re-post: a new id carrying the text of a live document
      val reposts = pick(keys, Reposts, Set.empty).map { src =>
        nextId += 1; nextId -> live(src).copy(emb = clusters.point(r))
      }
      val landed = fresh ++ added ++ reposts ++ recrawl.map(id => id -> live(id))
      val reads = (0 until ReadsPerDay).map(readRequest)
      removed.foreach(live.remove)
      (fresh ++ added).foreach { case (id, d) => live(id) = d }
      landedRows += landed.size; changedRows += changed.size; addedRows += added.size
      removedRows += removed.size; repostRows += reposts.size
      Delta(landed, removed, reposts.map(_._1).toSet, reads)
    }
    warmReads = (0 until ReadsPerDay).map(readRequest)
    val tot = landedRows + removedRows.toDouble
    gen.shares ++= Seq(
      "delta.changed" -> changedRows / tot, "delta.added" -> addedRows / tot,
      "delta.removed" -> removedRows / tot, "delta.reposted" -> repostRows / tot,
      "delta.unchanged" -> (landedRows - changedRows - addedRows - repostRows) / tot)
  }

  /** Live corpus after `days` days, by the generator's own rules. */
  private def expected(days: Int): mutable.LinkedHashMap[Long, DocV] = {
    val live = mutable.LinkedHashMap.from(base)
    deltas.take(days).foreach { d =>
      d.removed.foreach(live.remove)
      d.landed.foreach { case (id, v) => if (!d.reposts(id)) live(id) = v }
    }
    live
  }

  def digests: Map[String, String] = {
    def d(f: Util.Digest => Unit) = { val x = new Util.Digest; f(x); x.hex }
    def docs(x: Util.Digest, s: Seq[(Long, DocV)]) =
      s.foreach { case (id, v) => x.add(id, v.text, v.emb.mkString(","), v.hash) }
    Map(
      "corpus" -> d(x => corpus.docs.foreach(r => x.add(r.id, r.source, r.text))),
      "benchmark" -> d(x => corpus.benchmark.foreach(b => x.add(b._1, b._2))),
      "embeddings" -> d(x => embeddings.foreach(v => x.add(v.mkString(",")))),
      "entities" -> d(x => Seq(entities.companies, entities.events, entities.snapshots,
        entities.products, entities.leadership, entities.visibility, entities.news)
        .foreach(_.foreach(x.add(_)))),
      "deltas" -> d(x => deltas.foreach { dl =>
        docs(x, dl.landed); x.add(dl.removed.mkString(","))
        dl.reads.foreach(q => x.add(q.kind, q.text, q.qvec.mkString(",")))
      }))
  }

  private def in(t: String) = ctx.path(s"in/$t")
  private def art(t: String) = ctx.path(s"art/$t")
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("emb", ArrayType(DoubleType)), StructField("hash", StringType)))

  private def frame(s: Seq[(Long, DocV)]): DataFrame = {
    val x = spark; import x.implicits._
    s.map { case (id, v) => (id, v.text, v.emb.toSeq, v.hash) }.toDF("id", "text", "emb", "hash")
  }

  def writeInputs(): Unit = {
    val x = spark; import x.implicits._
    corpus.docs.map(d => (d.id, d.source, d.text)).toDF("id", "source", "text")
      .write.mode("overwrite").parquet(in("corpus"))
    corpus.benchmark.toDF("id", "text").write.mode("overwrite").parquet(in("benchmark"))
    embeddings.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "emb")
      .write.mode("overwrite").parquet(in("embeddings"))
    Entities.write(spark, entities, in("entities"))
  }

  private var deltaBytes = 0L
  def inputBytes: Long = Util.dirBytes(ctx.path("in")) + deltaBytes
  def storedBytes: Long = Util.dirBytes(ctx.path("art"))

  private var centroids: Seq[Array[Double]] = _
  private var buildChecks: Seq[(String, Boolean)] = Nil

  /** The nightly build is the refresh's base; the history fingerprints
    * are its survivors'.
    */
  def buildBase(): Unit = {
    centroids = Nightly.build(spark, tracer, ctx.path("in"), ctx.path("art"), Nlist, KMeansIters)
    spark.read.parquet(art("survivors")).select(TextFns.fingerprint(col("text")).as("fp"))
      .write.mode("overwrite").parquet(art("history"))
  }

  override def afterBase(): Unit =
    buildChecks = Nightly.check(spark, corpus, ctx.path("art"), Companies, layerExtra)

  private var day = 0
  private var sinceCompaction = 0
  private val readSamples = mutable.ArrayBuffer.empty[Double]
  private var batchRows, workRows = 0L
  private var segmentsAtRead = 0L
  private var reads = 0L
  private var tracedDeltaBytes = 0L

  private lazy val stream = spark.readStream.schema(schema).json(ctx.path("landing"))

  /** Reads against the base index warm the read paths. */
  def warmUp(): Unit = warmReads.foreach(query)

  def block(): Unit = runDay()

  private def landingFile(d: Int) = ctx.path(f"landing/day-$d%04d.json")
  private def removalFile(d: Int) = ctx.path(f"removals/day-$d%04d.json")

  /** Land a file atomically: write a hidden temp file, then rename. */
  private def land(path: String, lines: Iterator[String]): Long = {
    val p = Paths.get(path)
    val tmp = p.resolveSibling("." + p.getFileName + ".tmp")
    Util.writeLines(tmp, lines)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
    Files.size(p)
  }

  /** One day, timed as one sample: the delta landing, the streaming
    * merge and its upserts, the day's reads over the upserted index, and
    * the compaction that closes every `CompactEvery`-th day.
    */
  private def runDay(): Unit = {
    require(day < MaxDays, s"refresh ran past its $MaxDays generated days")
    day += 1
    val d = deltas(day - 1)
    val seq = day.toLong
    val prev = {
      val x = spark; import x.implicits._
      expected(day - 1).toSeq.map { case (id, v) => (id, v.hash) }.toDF("id", "hash")
    }
    timed("day") {
      val bytes = land(removalFile(day), d.removed.iterator.map(id => s"""{"id":$id}""")) +
        land(landingFile(day), d.landed.iterator.map { case (id, v) =>
          Util.json(mutable.LinkedHashMap("id" -> id, "text" -> v.text, "emb" -> v.emb, "hash" -> v.hash))
        })
      deltaBytes += bytes
      if (tracer.recording) tracedDeltaBytes += bytes
      layerExtra("io.delta_bytes") = tracedDeltaBytes.toDouble
      batchRows += d.landed.size
      tracer.span("streams.merge_batch") {
        val q = Streams.incrementalMerge(stream, Seq("id"), "hash", () => Some(prev),
          (work, _) => process(work, d, seq))
          .option("checkpointLocation", ctx.path("checkpoint"))
          .start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      sinceCompaction += 1
      layerExtra("streams.changed_frac") = workRows.toDouble / batchRows.max(1)
      d.reads.zipWithIndex.foreach { case (r, j) => read(r, day * 100 + j) }
      if (day % CompactEvery == 0) {
        tracer.span("io.compact_postings") { Io.compactPostings(spark, art("postings")) }
        sinceCompaction = 0
      }
    }
  }

  private def process(work: DataFrame, d: Delta, seq: Long): Unit = {
    val ids = tracer.span("relational.change_detection") {
      work.select("id").collect().map(_.getLong(0))
    }
    workRows += ids.length
    val landed = spark.read.schema(schema).json(landingFile(seq.toInt))
    val admitted = tracer.span("dedup.bloom_incremental") {
      val a = Dedup.bloomIncremental(
        landed.filter(col("id").isin(ids.toIndexedSeq: _*)), spark.read.parquet(art("history")),
        "text", "id", ExpectedItems).persist()
      a.count()
      a
    }
    val removed = spark.read.schema(StructType(Seq(StructField("id", LongType))))
      .json(removalFile(seq.toInt))
    tracer.span("io.upsert_postings") {
      Io.upsertPostings(TextAnalysis.invertedIndex(admitted, "text", "id"), art("postings"), seq)
    }
    tracer.span("io.delete_postings") { Io.deletePostingsDocs(removed, art("postings"), seq) }
    tracer.span("io.upsert_ivf") {
      Io.upsertIvfIndex(
        Similarity.ivfAssign(admitted.select("id", "emb"), "emb", centroids), art("ivf"), seq)
      Io.deleteIvfIds(removed, art("ivf"), seq)
    }
    tracer.span("dedup.history_append") {
      admitted.select("fp").write.mode("append").parquet(art("history"))
    }
    admitted.unpersist()
  }

  /** One read over the latest postings or IVF index; the client's rows. */
  private def query(r: Gen.Request): Array[_] =
    if (r.kind == "bm25") tracer.span("textanalysis.bm25_postings") {
      TextAnalysis.bm25FromPostings(spark, art("postings"), r.terms)
        .orderBy(col("bm25").desc, col("doc_id")).limit(TopK).collect()
    }
    else {
      val (cents, latest) = tracer.span("io.read_ivf_index") {
        Io.readIvfIndexLatest(spark, art("ivf"), "id")
      }
      tracer.span("similarity.ivf_topk") {
        Similarity.ivfTopK(latest, "emb", cents, r.qvec, TopK, Nprobe).select("id", "score").collect()
      }
    }

  private def read(r: Gen.Request, id: Long): Unit = {
    opsAttempted += 1
    val t = System.nanoTime()
    try {
      val rows = tracer.request(id, s"request.${r.kind}")(query(r))
      readSamples += Util.msSince(t)
      countRows(rows.length)
      reads += 1; segmentsAtRead += sinceCompaction
      layerExtra("io.live_upsert_segments") = segmentsAtRead.toDouble / reads
    } catch {
      case e: Exception =>
        opsFailed += 1
        System.err.println(s"[perfbench] read failed: $e")
    }
  }

  def check(): Seq[(String, Boolean)] = {
    val live = expected(day)
    val fresh = frame(live.toSeq)
    val postings = Io.readPostingsLatest(spark, art("postings")).select("term", "id", "positions")
    val rebuilt = TextAnalysis.invertedIndex(fresh, "text", "id").select("term", "id", "positions")
    val (_, ivf) = Io.readIvfIndexLatest(spark, art("ivf"), "id")
    val ivfRows = ivf.select("id", "emb", "cell")
    val ivfFresh = Similarity.ivfAssign(fresh.select("id", "emb"), "emb", centroids).select("id", "emb", "cell")
    def sameMultiset(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    extra("days") = day
    extra("read_p50_ms") = if (readSamples.isEmpty) None else Some(Util.median(readSamples.toSeq))
    extra("read_count") = readSamples.size
    extra("live_docs") = live.size
    buildChecks ++ Seq(
      "postings_latest_equals_fresh_build" -> sameMultiset(postings, rebuilt),
      "ivf_latest_equals_fresh_assign" -> sameMultiset(ivfRows, ivfFresh),
      "ivf_live_count" -> (ivfRows.count() == live.size))
  }
}

object Refresh {
  val CorpusDocs = 2000
  val Companies = 30
  val Dim = 32
  val Nlist = 32
  val Nprobe = 4
  val KMeansIters = 3
  val MaxDays = 60
  val Changed = 100
  val Added = 50
  val Removed = 25
  val Reposts = 10
  val Recrawled = 100
  val ReadsPerDay = 2
  val CompactEvery = 2
  val TopK = 5
  val ExpectedItems = 40000L
}
