package perfbench

import graft.operators.{Similarity, TextAnalysis}
import graft.pipelines.Corpus
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The nightly batch, from a generated corpus to every artifact: corpus
  * funnel with the near-dup stage (survivors written), positional
  * postings, IVF centroids + assignment + index, entity payloads.
  * Dedup shuffles, per-document text kernels and index writes do the
  * work; planning does almost none.
  */
object Nightly {
  val MinQuality = 0.5
  val NearDupJaccard = 0.7
  val PostingsBuckets = 16

  /** Inputs under `in` (corpus, benchmark, embeddings, entities),
    * artifacts under `out`. Returns the IVF centroids.
    */
  def build(spark: SparkSession, tracer: Tracer, in: String, out: String, nlist: Int, iters: Int)
      : Seq[Array[Double]] = {
    val docs = spark.read.parquet(s"$in/corpus")
    val bench = spark.read.parquet(s"$in/benchmark")
    tracer.span("corpus.funnel") {
      val survivors = Corpus.funnel(
        docs, bench, "text", "id", Gen.LangMarkers, "en", Gen.Stopwords, MinQuality,
        nearDupJaccard = Some(NearDupJaccard))
      Io.writeParquet(survivors.select("id", "source", "text"), s"$out/survivors")
    }
    val survivors = spark.read.parquet(s"$out/survivors")
    val vecs = survivors.select("id").join(spark.read.parquet(s"$in/embeddings"), "id")
    indexes(spark, tracer, survivors, vecs, s"$in/entities", out, nlist, iters)
  }

  /** The serving artifacts under `out`: postings over `docs` (id, text),
    * an IVF index over `vecs` (id, emb), payloads from the entity tables.
    * Returns the IVF centroids.
    */
  def indexes(
      spark: SparkSession,
      tracer: Tracer,
      docs: DataFrame,
      vecs: DataFrame,
      entities: String,
      out: String,
      nlist: Int,
      iters: Int): Seq[Array[Double]] = {
    tracer.span("io.write_postings") {
      Io.writePostings(TextAnalysis.invertedIndex(docs, "text", "id"), s"$out/postings", PostingsBuckets)
    }
    val cents = tracer.span("similarity.fit_centroids") {
      Similarity.fitCentroids(vecs, "id", "emb", nlist, iters)
    }
    tracer.span("io.write_ivf_index") {
      Io.writeIvfIndex(Similarity.ivfAssign(vecs, "emb", cents), cents, s"$out/ivf")
    }
    tracer.span("payload.assemble_write") {
      Io.writePayloads(Entities.assemble(Entities.read(spark, entities)), "company_id", s"$out/payloads")
    }
    spark.catalog.clearCache()
    cents
  }

  /** Ids the funnel must keep: everything not planted to be dropped. */
  def expectedSurvivors(c: Gen#Corpus): Set[Long] =
    c.docs.map(_.id).toSet -- c.exactDups -- c.nearDups.keys -- c.contaminated -- c.otherLang -- c.lowQuality

  /** Output checks of a finished build; also fills the corpus layer counts. */
  def check(spark: SparkSession, c: Gen#Corpus, out: String, companies: Int, layer: collection.mutable.Map[String, Double])
      : Seq[(String, Boolean)] = {
    val surv = spark.read.parquet(s"$out/survivors").select("id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = surv.keySet
    val fps = surv.values.map(_.trim.replaceAll("\\s+", " ").toLowerCase).toSet
    layer("corpus.docs_in") = c.docs.size.toDouble
    layer("corpus.docs_out") = ids.size.toDouble
    layer("corpus.near_dup_removed") = c.nearDups.keys.count(d => !ids(d)).toDouble
    def docCount(df: DataFrame) = df.select("id").distinct().count()
    val (_, cells) = Io.readIvfIndex(spark, s"$out/ivf")
    Seq(
      "survivor_fingerprints_distinct" -> (fps.size == ids.size),
      "planted_near_dups_collapsed" -> c.nearDups.forall { case (d, s) => !(ids(d) && ids(s)) },
      "no_contaminated_doc_survives" -> c.contaminated.forall(d => !ids(d)),
      "survivors_are_the_clean_docs" -> (ids == expectedSurvivors(c)),
      "postings_doc_count_equals_survivors" -> (docCount(Io.readPostings(spark, s"$out/postings")) == ids.size),
      "ivf_doc_count_equals_survivors" -> (docCount(cells) == ids.size && cells.count() == ids.size),
      "payload_per_company" -> (spark.read.json(s"$out/payloads").count() == companies))
  }
}
