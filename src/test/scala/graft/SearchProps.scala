package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck equivalence for the text-ranking operators: on random
  * small corpora (repeated words, multi-space runs, empty and
  * whitespace-only documents), the distributed TF-IDF and unigram-LM
  * scores must match self-contained driver-side references computed
  * with the same tokenization contract. The fixed-case SearchSpec pins
  * intended semantics; these hunt the corpora nobody writes by hand. */
object SearchProps extends Properties("Search") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(SparkSpec.fuzzN(6))

  private lazy val spark = SparkSpec.session

  private val genWord = Gen.oneOf("a", "b", "cat", "dog", "spark", "x")
  private val genDoc = for {
    n <- Gen.choose(0, 8)
    ws <- Gen.listOfN(n, genWord)
    sep <- Gen.oneOf(" ", "  ", " \t ")
  } yield ws.mkString(sep)
  private val genCorpus = for {
    n <- Gen.choose(1, 6)
    docs <- Gen.listOfN(n, genDoc)
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def tok(t: String): Seq[String] =
    t.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  private def round6(x: Double) =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round9(x: Double) =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  property("tfidfTopTerms matches a driver reference on random corpora") =
    Prop.forAll(genCorpus) { corpus =>
      import spark.implicits._
      val n = corpus.size
      val tf = corpus.flatMap { case (id, t) =>
        tok(t).groupBy(identity).map { case (w, os) => (id, w, os.size.toLong) }
      }
      val df = tf.groupBy(_._2).map { case (w, rs) => w -> rs.size.toLong }
      val expected = tf.map { case (id, w, f) =>
        (id, w, f, df(w), round9(f * math.log(n.toDouble / df(w))))
      }.groupBy(_._1).flatMap { case (id, rows) =>
        rows.sortBy(r => (-r._5, r._2)).take(3).zipWithIndex
          .map { case (r, i) => (id, (i + 1).toLong, r._2, r._3, r._4, r._5) }
      }.toSet
      val d = corpus.toDF("doc_id", "text")
      val got = Search.tfidfTopTermsFrom(Search.docTermFreq(d), d.count()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSet
      got == expected
    }

  // short alphabet + short words force dense deletion-neighborhood
  // collisions: substitutions, insertions, deletions, and the FALSE
  // candidates the exact verify must reject (distance-2 words that
  // still share a deletion variant, e.g. "abc" ~ "cba" via gen overlap)
  private val genVocabDoc = for {
    n <- Gen.choose(1, 10)
    ws <- Gen.listOfN(n, for {
      len <- Gen.choose(3, 5)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString)
  } yield ws.mkString(" ")

  property("typoPairs finds exactly the levenshtein<=1 pairs (no candidate misses)") =
    Prop.forAll(genVocabDoc) { text =>
      import spark.implicits._
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val vocab = text.toLowerCase.split("\\s+").filter(_.length >= 3).distinct.sorted
      val expected = (for {
        i <- vocab.indices; j <- (i + 1) until vocab.length
        if lev(vocab(i), vocab(j)) <= 1
      } yield (vocab(i), vocab(j), lev(vocab(i), vocab(j)).toLong)).toSet
      val got = Llm.typoPairs(Seq((1L, text)).toDF("id", "text"), "text").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      got == expected
    }

  property("unigramLogProb matches a driver reference on random corpora") =
    Prop.forAll(genCorpus) { corpus =>
      import spark.implicits._
      val all = corpus.flatMap { case (_, t) => tok(t) }
      val uni = all.groupBy(identity).map { case (w, os) => w -> os.size.toLong }
      val total = all.size.toDouble
      val expected = corpus.flatMap { case (id, t) =>
        val ws = tok(t)
        if (ws.isEmpty) None
        else Some((id, ws.size.toLong,
          round6(ws.map(w => math.log(uni(w).toDouble) - math.log(total)).sum / ws.size)))
      }.toSet
      val got = Llm.unigramLogProbFrom(Search.docTermFreq(corpus.toDF("doc_id", "text")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got == expected
    }
}
