package perfbench

import graft.operators.{Similarity, TextAnalysis}
import graft.pipelines.{Orbit, Rag}
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `retrieve`: one client in a closed loop sends a seeded request
  * stream (RAG company search, IVF and brute-force vector top-k, BM25
  * off persisted postings, BM25+vector RRF hybrid, payload point
  * lookup) against indexes built during set-up. Each request is small,
  * so planning, scheduling and per-request recomputation dominate.
  */
final class Retrieve(ctx: Ctx) extends Workload(ctx) {
  import Retrieve._

  private var ragDocs: IndexedSeq[Gen.Doc] = _
  private var textDocs: IndexedSeq[Gen.Doc] = _
  private var vectors: Array[Array[Double]] = _
  private var entities: Gen#Entities = _
  private var requests: IndexedSeq[Gen.Request] = _
  private var warmRequests: IndexedSeq[Gen.Request] = _

  def generate(): Unit = {
    val clusters = new gen.Clusters(40, Clusters, Dim, 0.12)
    ragDocs = gen.docs(41, RagDocs, 0L, DocOwners, 40, 100)
    textDocs = gen.docs(42, TextDocs, 0L, DocOwners, 40, 100)
    vectors = { val r = gen.rng(43); Array.fill(Vectors)(clusters.point(r)) }
    entities = gen.entities(Companies)
    val owners = ragDocs.map(_.companyId).distinct.sorted
    val others = (0 until Companies).map(Gen.companyId).filterNot(owners.toSet)
    val all = gen.requests(Cycles + 1, Cycle, owners, others, RepeatShare, clusters)
    requests = all.drop(Cycle.size)
    // one request of each kind, from a cycle the window never reaches
    warmRequests = all.take(Cycle.size).groupBy(_.kind).values.map(_.head).toIndexedSeq.sortBy(_.kind)
  }

  def digests: Map[String, String] = {
    def d(f: Util.Digest => Unit) = { val x = new Util.Digest; f(x); x.hex }
    Map(
      "rag_docs" -> d(x => ragDocs.foreach(r => x.add(r.id, r.source, r.text))),
      "text_docs" -> d(x => textDocs.foreach(r => x.add(r.id, r.text))),
      "vectors" -> d(x => vectors.foreach(v => x.add(v.mkString(",")))),
      "entities" -> d(x => Seq(entities.companies, entities.events, entities.snapshots,
        entities.products, entities.leadership, entities.visibility, entities.news)
        .foreach(_.foreach(x.add(_)))),
      "requests" -> d(x => requests.foreach(r =>
        x.add(r.kind, r.companyId, r.text, r.qvec.mkString(","), r.repeated))))
  }

  private def in(t: String) = ctx.path(s"in/$t")
  private def art(t: String) = ctx.path(s"art/$t")

  def writeInputs(): Unit = {
    val s = spark; import s.implicits._
    ragDocs.map(d => (d.id, d.source, d.text)).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(in("rag_docs"))
    textDocs.map(d => (d.id, d.text)).toDF("id", "text").write.mode("overwrite").parquet(in("text_docs"))
    vectors.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("id", "emb")
      .write.mode("overwrite").parquet(in("vectors"))
    Entities.write(spark, entities, in("entities"))
  }

  def inputBytes: Long = Util.dirBytes(ctx.path("in"))
  def storedBytes: Long = Util.dirBytes(ctx.path("art"))

  private var ragDf: DataFrame = _
  private var vecDf: DataFrame = _
  private var assigned: DataFrame = _
  private var centroids: Seq[Array[Double]] = _
  private var payloads: DataFrame = _

  def buildBase(): Unit = {
    Nightly.indexes(spark, tracer, spark.read.parquet(in("text_docs")), spark.read.parquet(in("vectors")),
      in("entities"), ctx.path("art"), Nlist, KMeansIters)
    // the serving handles every request uses
    ragDf = spark.read.parquet(in("rag_docs"))
    vecDf = spark.read.parquet(in("vectors"))
    val (c, a) = Io.readIvfIndex(spark, art("ivf"))
    centroids = c; assigned = a
    payloads = spark.read.json(art("payloads"))
  }

  def warmUp(): Unit = warmRequests.foreach(serve)

  private var next = 0
  private var ragN, ragFallbacks = 0
  private lazy val owners: Set[String] = ragDocs.map(_.companyId).toSet

  /** One cycle of the request mix, so every window weights kinds exactly. */
  def block(): Unit = Cycle.foreach(_ => step())

  /** Every response, kept for the output checks: (request index, rows). */
  private val kept = mutable.ArrayBuffer.empty[(Int, Array[Row])]

  private def step(): Unit = {
    val i = next % requests.size
    next += 1
    val r = requests(i)
    timed(if (r.kind == "rag" && !owners(r.companyId)) "rag_fallback" else r.kind) {
      val rows = tracer.request(i.toLong, s"request.${r.kind}")(serve(r))
      countRows(rows.length)
      if (r.kind == "rag") {
        ragN += 1
        if (!owners(r.companyId)) ragFallbacks += 1
        layerExtra("rag.fallback_frac") = ragFallbacks.toDouble / ragN
      }
      kept += ((i, rows))
    }
  }

  private def bm25(terms: Seq[String]): DataFrame =
    TextAnalysis.bm25FromPostings(spark, art("postings"), terms)

  private def ranked(df: DataFrame, id: String, score: String, n: Int): DataFrame =
    df.orderBy(col(score).desc, col(id)).limit(n)
      .withColumn("rank", row_number().over(Window.orderBy(col(score).desc, col(id))))
      .select(col(id).as("id"), col("rank"))

  private def serve(r: Gen.Request): Array[Row] = r.kind match {
    case "rag" =>
      tracer.span("rag.search_company") {
        Orbit.ragSearchCompany(ragDf, r.companyId, r.text, TopK).collect()
      }
    case "ivf" =>
      tracer.span("similarity.ivf_topk") {
        Similarity.ivfTopK(assigned, "emb", centroids, r.qvec, TopK, Nprobe)
          .select("id", "score").collect()
      }
    case "brute" =>
      tracer.span("similarity.brute_topk") {
        Similarity.bruteForceTopK(vecDf, "emb", r.qvec, TopK).select("id", "score").collect()
      }
    case "bm25" =>
      tracer.span("textanalysis.bm25_postings") {
        bm25(r.terms).orderBy(col("bm25").desc, col("doc_id")).limit(TopK).collect()
      }
    case "rrf" =>
      tracer.span("rag.rrf_fuse") {
        val a = ranked(bm25(r.terms), "doc_id", "bm25", FuseDepth)
        val b = ranked(
          Similarity.ivfTopK(assigned, "emb", centroids, r.qvec, FuseDepth, Nprobe), "id", "score", FuseDepth)
        Rag.rrfFuse(a, b, "id", 60, TopK).collect()
      }
    case "payload" =>
      tracer.span("orbit.payload_lookup") {
        Orbit.payloadLookup(payloads, r.companyId).collect()
      }
  }

  // ---- output checks ---------------------------------------------------

  def check(): Seq[(String, Boolean)] = {
    val out = mutable.ArrayBuffer.empty[(String, Boolean)]
    kept.foreach { case (i, rows) =>
      val r = requests(i)
      val ok = r.kind match {
        case "brute" =>
          sameTopK(rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq, exactTopK(r.qvec, TopK))
        case "ivf" =>
          sameTopK(rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq, ivfReference(r.qvec, TopK))
        case "rag" =>
          sameTopK(rows.map(x => (x.getLong(0) * 1000 + x.getLong(1), x.getDouble(3))).toSeq,
            ragReference(r, owners))
        case "bm25" =>
          sameTopK(rows.map(x => (x.getLong(0), x.getDouble(1))).toSeq, bm25Reference(r.terms), 2e-6)
        case "rrf" =>
          sameTopK(rows.map(x => (x.getAs[Long]("id"), x.getAs[Double]("rrf"))).toSeq, rrfReference(r))
        case "payload" =>
          rows.length == 1 && rows.head.getAs[String]("company_id") == r.companyId
      }
      out += s"${r.kind}#$i" -> ok
    }
    // IVF probing every cell must equal brute force exactly
    requests.filter(_.kind == "ivf").take(1).zipWithIndex.foreach { case (r, j) =>
      val all = Similarity.ivfTopK(assigned, "emb", centroids, r.qvec, TopK, Nlist)
        .select("id", "score").collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      val brute = Similarity.bruteForceTopK(vecDf, "emb", r.qvec, TopK)
        .select("id", "score").collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
      out += s"ivf_full_probe_equals_brute#$j" -> (all == brute)
    }
    val ragReqs = kept.count(k => requests(k._1).kind == "rag")
    extra("checked_responses") = kept.size
    extra("rag_checked") = ragReqs
    out.toSeq
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  private def exactTopK(q: Array[Double], k: Int): Seq[(Long, Double)] =
    vectors.indices.map(i => (i.toLong, cos(vectors(i), q)))
      .sortBy { case (id, s) => (-s, id) }.take(k)

  private lazy val cells: Map[Long, Int] =
    assigned.select("id", "cell").collect().map(x => x.getLong(0) -> x.getAs[Number](1).intValue).toMap

  /** In-process reference IVF top-k: exact cosine over the `Nprobe`
    * cells whose centroids are nearest the query.
    */
  private def ivfReference(q: Array[Double], k: Int): Seq[(Long, Double)] = {
    val probed = centroids.zipWithIndex.sortBy { case (c, _) => -cos(q, c) }.take(Nprobe).map(_._2).toSet
    vectors.indices.filter(i => probed(cells(i.toLong)))
      .map(i => (i.toLong, cos(vectors(i), q))).sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** In-process reference hybrid: reciprocal-rank fusion (c = 60) of the
    * reference BM25 and IVF rankings, each `FuseDepth` deep.
    */
  private def rrfReference(r: Gen.Request): Seq[(Long, Double)] = {
    def ranks(leg: Seq[(Long, Double)]) = leg.map(_._1).zipWithIndex.map { case (id, j) => id -> (j + 1) }.toMap
    val a = ranks(bm25Reference(r.terms, FuseDepth))
    val b = ranks(ivfReference(r.qvec, FuseDepth))
    def leg(m: Map[Long, Int], id: Long) = m.get(id).fold(0.0)(k => 1.0 / (60.0 + k))
    (a.keySet ++ b.keySet).toSeq.map(id => (id, leg(a, id) + leg(b, id)))
      .sortBy { case (id, s) => (-s, id) }.take(TopK)
  }

  /** In-process reference RAG: filter by company (else everything), chunk,
    * featurize with `Rag.embedQueryVector`, cosine against the
    * augmented query. Keys are doc_id * 1000 + chunk_index.
    */
  private def ragReference(r: Gen.Request, owners: Set[String]): Seq[(Long, Double)] = {
    val pool = if (owners.contains(r.companyId))
      ragDocs.filter(_.source.toLowerCase.contains(r.companyId.toLowerCase)) else ragDocs
    val q = Rag.embedQueryVector(s"${r.companyId} ${r.text}", 16)
    pool.flatMap { d =>
      d.text.grouped(ChunkSize).zipWithIndex.map { case (c, j) =>
        (d.id * 1000 + j, cos(Rag.embedQueryVector(c, 16), q))
      }
    }.sortBy { case (k, s) => (-s, k) }.take(TopK)
  }

  private lazy val bm25Index: (Map[String, Map[Long, Int]], Map[Long, Int], Double) = {
    val tf = mutable.Map.empty[String, mutable.Map[Long, Int]]
    val dl = textDocs.map { d =>
      val toks = d.text.trim.split("\\s+")
      toks.foreach(t => tf.getOrElseUpdate(t, mutable.Map.empty).updateWith(d.id)(c => Some(c.getOrElse(0) + 1)))
      d.id -> toks.length
    }.toMap
    (tf.view.mapValues(_.toMap).toMap, dl, dl.values.map(_.toDouble).sum / dl.size)
  }

  /** In-process reference BM25 (k1 1.2, b 0.75), the engine's formula. */
  private def bm25Reference(terms: Seq[String], k: Int = TopK): Seq[(Long, Double)] = {
    val (tf, dl, avg) = bm25Index
    val n = dl.size.toDouble
    val scores = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    terms.distinct.foreach { t =>
      val post = tf.getOrElse(t, Map.empty[Long, Int])
      val idf = math.log((n - post.size + 0.5) / (post.size + 0.5) + 1.0)
      post.foreach { case (id, f) =>
        scores(id) += idf * (f * 2.2) / (f + 1.2 * (1.0 - 0.75 + 0.75 * (dl(id) / avg)))
      }
    }
    scores.toSeq.map { case (id, s) => (id, math.rint(s * 1e6) / 1e6) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

object Retrieve {
  val Companies = 40
  val DocOwners = 36
  val RagDocs = 1000
  val TextDocs = 3000
  val Vectors = 10000
  val Dim = 32
  val Clusters = 32
  val Nlist = 16
  val Nprobe = 2
  val KMeansIters = 2
  val TopK = 5
  val FuseDepth = 20
  val ChunkSize = 1000
  val Cycles = 400
  val RepeatShare = 0.2
  val Tol = 1e-9
  /** One cycle of the request mix (see [[Gen.requests]]). */
  val Cycle: Seq[String] = Seq(
    "rag", "rag", "rag_fallback", "ivf", "ivf", "brute", "bm25", "bm25", "rrf", "payload", "payload")

  /** Same top-k up to ties: scores agree rank by rank within `tol`,
    * and every reference hit scoring clearly above the k-th is returned.
    */
  def sameTopK(got: Seq[(Long, Double)], ref: Seq[(Long, Double)], tol: Double = Tol): Boolean =
    got.size == ref.size &&
      got.zip(ref).forall { case (g, r) => math.abs(g._2 - r._2) <= tol } &&
      ref.lastOption.forall { last =>
        ref.filter(_._2 > last._2 + tol).map(_._1).toSet.subsetOf(got.map(_._1).toSet)
      }
}
