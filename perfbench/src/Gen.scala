package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Everything the engine sees is produced here
  * from the benchmark seed: the same seed gives byte-identical inputs
  * (checked through [[digests]]), a different seed different ones.
  * Each property stream draws from its own salted generator so that
  * resizing one table does not reshuffle the others.
  */
object Gen {

  /** English stopwords; also the quality gate's stopword list. */
  val Stopwords: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "as", "was", "with",
    "be", "by", "on", "not", "this", "are", "or", "from", "at", "which", "an", "has")

  /** Marker tokens for the language gate; `en` is kept. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  private val Reserved: Set[String] = (Stopwords ++ LangMarkers.flatMap(_._2)).toSet

  final case class Doc(id: Long, companyId: String, source: String, text: String)
  final case class Request(
      kind: String,
      companyId: String,
      text: String,
      terms: Seq[String],
      qvec: Array[Double],
      repeated: Boolean)

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cum: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def companyId(i: Int): String = f"co-$i%05d"
}

final class Gen(val seed: Long) {
  import Gen._

  def rng(salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + salt * 0xbf58476d1ce4e5b9L)

  /** Measured share of each planted input property, by name. */
  val shares: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  private def randomWord(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
    sb.toString
  }

  private def vocabulary(salt: Long, n: Int): Array[String] = {
    val r = rng(salt)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val w = randomWord(r, 4, 9)
      if (!Reserved.contains(w)) seen += w
    }
    seen.toArray
  }

  /** Content vocabulary (Zipf-ranked) and a disjoint evaluation-suite
    * vocabulary, so benchmark passages share no n-gram with clean docs.
    */
  lazy val vocab: Array[String] = vocabulary(1, 6000)
  lazy val evalVocab: Array[String] = {
    val own = vocab.toSet
    vocabulary(2, 3000).filterNot(own.contains).take(2000).map("q" + _)
  }
  private lazy val wordZipf = new Zipf(vocab.length, 1.05)

  /** One document: `nTok` tokens, a quarter of them `markers`. */
  def text(r: SplittableRandom, nTok: Int, markers: Seq[String]): String =
    (0 until nTok).map { _ =>
      if (r.nextDouble() < 0.25) markers(r.nextInt(markers.size))
      else vocab(wordZipf.sample(r))
    }.mkString(" ")

  /** English text; the leading marker keeps the language gate decisive. */
  def enText(r: SplittableRandom, lo: Int, hi: Int): String =
    "the " + text(r, lo + r.nextInt(hi - lo), Stopwords)

  /** Mid-frequency query terms: selective but present in the corpus. */
  def queryTerms(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(vocab(20 + r.nextInt(800))).distinct

  // ---- embeddings --------------------------------------------------

  final class Clusters(salt: Long, val k: Int, val dim: Int, noise: Double) {
    private val centers: Array[Array[Double]] = {
      val r = rng(salt)
      Array.fill(k)(normalize(Array.fill(dim)(r.nextGaussian())))
    }
    private def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    /** A point near a random centre; rounded so parquet round trips exactly. */
    def point(r: SplittableRandom): Array[Double] = {
      val c = centers(r.nextInt(k))
      c.map(x => math.rint((x + noise * r.nextGaussian()) * 1e6) / 1e6)
    }
  }

  // ---- documents with planted properties --------------------------

  /** The build corpus: `n` base documents plus planted exact
    * duplicates, near duplicates, contaminated documents, other-
    * language and low-quality documents. Returns (docs, planted sets).
    */
  final case class Corpus(
      docs: IndexedSeq[Doc],
      exactDups: Set[Long],
      nearDups: Map[Long, Long],
      contaminated: Set[Long],
      otherLang: Set[Long],
      lowQuality: Set[Long],
      benchmark: IndexedSeq[(Long, String)])

  def corpus(n: Int, nCompanies: Int): Corpus = {
    val r = rng(10)
    val companyZipf = new Zipf(nCompanies, 1.1)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val clean = mutable.ArrayBuffer.empty[Int]
    val exact = mutable.Set.empty[Long]
    val near = mutable.Map.empty[Long, Long]
    val contam = mutable.Set.empty[Long]
    val other = mutable.Set.empty[Long]
    val lowq = mutable.Set.empty[Long]
    val bench = (0 until 60).map { i =>
      (i.toLong, (0 until 20).map(_ => evalVocab(r.nextInt(evalVocab.length))).mkString(" "))
    }
    val usedSources = mutable.Set.empty[Int]
    def pickSource(): Option[Int] = {
      var tries = 0
      while (tries < 20) {
        val i = clean(r.nextInt(clean.size))
        if (!usedSources.contains(i)) { usedSources += i; return Some(i) }
        tries += 1
      }
      None
    }
    def add(text: String): Long = {
      val id = docs.size.toLong
      val co = companyId(companyZipf.sample(r))
      docs += Doc(id, co, s"https://news.example/$co/$id", text)
      id
    }
    while (docs.size < n) {
      val u = r.nextDouble()
      if (u < 0.08) other += add(text(r, 40 + r.nextInt(60), LangMarkers(1 + r.nextInt(2))._2))
      else if (u < 0.12)
        lowq += add((0 until 8 + r.nextInt(8)).map(_ => vocab(wordZipf.sample(r))).mkString(" "))
      else if (u < 0.17 && clean.size > 50) pickSource() match {
        case Some(i) => exact += add(docs(i).text)
        case None    => clean += add(enText(r, 40, 100)).toInt
      }
      else if (u < 0.22 && clean.size > 50) pickSource() match {
        case Some(i) =>
          // one or two substituted tokens: 3-shingle Jaccard >= 0.85
          val toks = docs(i).text.split(" ")
          (0 until 1 + r.nextInt(2)).foreach { _ =>
            toks(r.nextInt(toks.length)) = vocab(wordZipf.sample(r))
          }
          val t = toks.mkString(" ")
          // a substitution can reproduce the source text exactly
          if (t == docs(i).text) exact += add(t) else near(add(t)) = docs(i).id
        case None => clean += add(enText(r, 40, 100)).toInt
      }
      else if (u < 0.24) {
        val toks = enText(r, 40, 100).split(" ").toBuffer
        val passage = bench(r.nextInt(bench.size))._2.split(" ")
        val start = r.nextInt(passage.length - 8)
        toks.insertAll(r.nextInt(toks.size), passage.slice(start, start + 8))
        contam += add(toks.mkString(" "))
      } else clean += add(enText(r, 40, 100)).toInt
    }
    val tot = docs.size.toDouble
    shares ++= Seq(
      "corpus.exact_dup" -> exact.size / tot,
      "corpus.near_dup" -> near.size / tot,
      "corpus.contaminated" -> contam.size / tot,
      "corpus.other_lang" -> other.size / tot,
      "corpus.low_quality" -> lowq.size / tot)
    Corpus(docs.toIndexedSeq, exact.toSet, near.toMap, contam.toSet, other.toSet, lowq.toSet, bench)
  }

  /** Plain English documents, ids from `firstId`, company Zipf over
    * the first `nOwners` companies.
    */
  def docs(salt: Long, n: Int, firstId: Long, nOwners: Int, lo: Int, hi: Int): IndexedSeq[Doc] = {
    val r = rng(salt)
    val z = new Zipf(nOwners, 1.1)
    (0 until n).map { i =>
      val id = firstId + i
      val co = companyId(z.sample(r))
      Doc(id, co, s"https://site.example/$co/page-$id", enText(r, lo, hi))
    }
  }

  // ---- entity tables (graft.model) --------------------------------

  final case class Entities(
      companies: Seq[graft.model.Models.Company],
      events: Seq[graft.model.Models.Event],
      snapshots: Seq[graft.model.Models.Snapshot],
      products: Seq[graft.model.Models.Product],
      leadership: Seq[graft.model.Models.Leadership],
      visibility: Seq[graft.model.Models.Visibility],
      news: Seq[graft.model.Models.NewsArticle])

  def entities(nCompanies: Int): Entities = {
    import graft.model.Models._
    val r = rng(20)
    val base = java.time.LocalDate.of(2024, 1, 1)
    def date(d: Int) = java.sql.Date.valueOf(base.plusDays(d.toLong))
    val types = EventTypes.toSeq.sorted
    val cos = (0 until nCompanies).map { i =>
      Company(companyId(i), s"${vocab(i % vocab.length).capitalize} Inc",
        founded_year = Some(1990 + r.nextInt(34)), hq_country = Some("US"),
        categories = Seq(vocab(r.nextInt(200))))
    }
    def per(maxN: Int) = cos.flatMap(c => (0 until r.nextInt(maxN + 1)).map(j => (c.company_id, j)))
    val events = per(8).map { case (co, j) =>
      val t = types(r.nextInt(types.size))
      Event(s"$co-ev$j", co, s"${vocab(r.nextInt(500))} $t", date(r.nextInt(365)), t,
        amount_usd = if (t == "funding") Some((1 + r.nextInt(500)) * 1e5) else None)
    }
    val snaps = per(4).map { case (co, j) =>
      Snapshot(co, date(j * 30), headcount_total = Some(10 + r.nextInt(5000)),
        job_openings_count = Some(r.nextInt(200)))
    }
    val products = per(4).map { case (co, j) =>
      Product(s"$co-p$j", co, vocab(r.nextInt(1000)).capitalize,
        pricing_model = Some(Seq("seat", "usage", "tiered")(r.nextInt(3))))
    }
    val leaders = per(4).map { case (co, j) =>
      Leadership(s"$co-l$j", co, s"${vocab(r.nextInt(1000))} ${vocab(r.nextInt(1000))}",
        Seq("CEO", "CTO", "CFO", "COO")(j % 4), is_founder = j == 0)
    }
    val vis = cos.map(c => Visibility(c.company_id, date(364),
      news_mentions_30d = Some(r.nextInt(40)), avg_sentiment = Some(math.rint(r.nextDouble() * 1e4) / 1e4)))
    val news = per(6).map { case (co, j) =>
      NewsArticle(s"$co-n$j", co, s"$co ${vocab(r.nextInt(500))} ${vocab(r.nextInt(500))}",
        date_published = Some(date(r.nextInt(365)).toString))
    }
    Entities(cos, events, snaps, products, leaders, vis, news)
  }

  // ---- request stream ----------------------------------------------

  /** Closed-loop request stream in cycles: every cycle holds each kind
    * `cycle` names as often as it is named there, in a seeded order, so
    * any whole number of cycles has the exact mix. A `rag_fallback`
    * slot asks for a company without documents (the fallback-if-empty
    * path); other slots pick companies by Zipf popularity over
    * `owners` (ranks permuted, so popularity is not id order). A
    * `repeatShare` of slots repeat an earlier request of the same slot
    * kind verbatim.
    */
  def requests(
      cycles: Int,
      cycle: Seq[String],
      owners: IndexedSeq[String],
      others: IndexedSeq[String],
      repeatShare: Double,
      clusters: Clusters): IndexedSeq[Request] = {
    val r = rng(30)
    val popular = {
      val a = owners.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val z = new Zipf(popular.length, 1.1)
    val bySlot = mutable.Map.empty[String, mutable.ArrayBuffer[Request]]
    val out = mutable.ArrayBuffer.empty[Request]
    (0 until cycles).foreach { _ =>
      val order = cycle.toArray
      (order.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.foreach { slot =>
        val seen = bySlot.getOrElseUpdate(slot, mutable.ArrayBuffer.empty)
        val req =
          if (seen.nonEmpty && r.nextDouble() < repeatShare) seen(r.nextInt(seen.size)).copy(repeated = true)
          else {
            val co = if (slot == "rag_fallback") others(r.nextInt(others.size)) else popular(z.sample(r))
            val terms = queryTerms(r, 3)
            Request(if (slot == "rag_fallback") "rag" else slot, co, terms.mkString(" "), terms,
              clusters.point(r), repeated = false)
          }
        seen += req
        out += req
      }
    }
    val tot = out.size.toDouble
    cycle.distinct.foreach(k => shares(s"requests.$k") = cycle.count(_ == k).toDouble / cycle.size)
    shares("requests.repeat") = out.count(_.repeated) / tot
    out.toIndexedSeq
  }
}
