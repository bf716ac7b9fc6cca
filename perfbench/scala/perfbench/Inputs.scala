package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One corpus row in the five-column shape `graft.api.Main` indexes. */
final case class CorpusRow(repo: String, path: String, commit: String,
                           lang: String, content: String)
final case class TextRow(doc_id: Long, text: String)
final case class VecRow(vec_id: Long, embedding: Array[Float])

/** One line of a query stream (`qid:text` in the query-file format `Main`
  * reads) and the retrieval model family it is scored with. Generators
  * leave `qid` 0; the stream's position assigns it. */
final case class QueryLine(qid: Int, text: String, family: String)

/** Vocabulary words by body document frequency band. */
final case class Bands(hot: IndexedSeq[String], mid: IndexedSeq[String],
                       rare: IndexedSeq[String])

/** The benchmark's own seeded input generator. Everything depends only on
  * the seed, so an edit to the program (including its `CorpusGen`) cannot
  * move a workload's inputs.
  *
  * Text is a Zipf-distributed stream over a pseudo-word vocabulary of
  * letter-only words (no stemming or stopword interplay), with planted
  * phrases so that `#NEAR/1` and `#WINDOW/8` match real documents. */
final class Inputs(seed: Long) {
  private val rnd = new scala.util.Random(seed * 1000003L + 17L)

  val VocabSize = 30000
  private val syllables = Array("ba", "ko", "mi", "tu", "re", "sa", "lo",
    "ne", "di", "gu", "pe", "va", "zo", "hi", "fu", "ja")

  /** rank → word; a seeded permutation decides which word gets which rank. */
  val vocab: Array[String] = {
    val perm = rnd.shuffle((0 until VocabSize).toVector)
    perm.map { p =>
      val sb = new StringBuilder
      var x = p
      for (_ <- 0 until 4) { sb.append(syllables(x & 15)); x >>= 4 }
      sb.toString
    }.toArray
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1.0, 1.05))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipfRank(r: scala.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(VocabSize - 1, if (i >= 0) i else -i - 1)
  }

  /** Two-word phrases planted into bodies, of words from frequency ranks
    * 300–600 so that every phrase costs about the same to match. */
  val phrases: Array[Array[String]] = Array.fill(300) {
    Array.fill(2)(vocab(300 + rnd.nextInt(300)))
  }

  private def body(r: scala.util.Random, minLen: Int, maxLen: Int): Array[String] = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val toks = Array.fill(n)(vocab(zipfRank(r)))
    for (_ <- 0 until r.nextInt(4)) {
      val p = phrases(r.nextInt(phrases.length))
      val at = r.nextInt(n - p.length)
      System.arraycopy(p, 0, toks, at, p.length)
    }
    toks
  }

  private val langs = Array("scala", "java", "py", "go", "rs")

  /** `n` corpus rows; document i depends only on (seed, i). */
  def corpus(n: Int): Seq[CorpusRow] = (0 until n).map { i =>
    val r = new scala.util.Random(seed * 7919L + i * 104729L + 1L)
    val lang = langs(i % langs.length)
    val dir = vocab(r.nextInt(400))
    val file = vocab(r.nextInt(4000))
    CorpusRow(f"org/repo-${i % 61}%03d", s"src/$dir/${file}_$i.$lang",
      f"${r.nextLong() & Long.MaxValue}%016x", lang,
      body(r, 80, 240).mkString(" "))
  }

  /** Body document frequency of every word in `rows`. */
  def bodyDf(rows: Seq[CorpusRow]): Map[String, Int] = {
    val df = mutable.HashMap.empty[String, Int]
    rows.foreach(d => d.content.split(' ').distinct.foreach(t =>
      df.update(t, df.getOrElse(t, 0) + 1)))
    df.toMap
  }

  /** Words by body df band (`df` over `n` documents): hot (the 10 most
    * frequent), mid (0.5–5% of documents), rare (2–8 documents). Sorted, so
    * draws depend on the seed only. */
  def bands(df: Map[String, Int], n: Int): Bands = {
    val byDf = df.toSeq.sortBy { case (t, d) => (-d, t) }
    Bands(byDf.take(10).map(_._1).toIndexedSeq,
      byDf.collect { case (t, d) if d >= n / 200 && d <= n / 20 => t }
        .sorted.toIndexedSeq,
      byDf.collect { case (t, d) if d >= 2 && d <= 8 => t }.sorted.toIndexedSeq)
  }

  private def pick[T](r: scala.util.Random, xs: IndexedSeq[T]): T =
    xs(r.nextInt(xs.length))

  /** Distinct BM25 bag-of-words queries. Query i has 1–5 body terms (the
    * length cycles 3, 1, 5, 2, 4) and term j comes from the hot, mid or
    * rare df band in turn. The shape is fixed, so seeds vary the words and
    * not the cost mix. No repeats, no operators. A different `salt` draws
    * a different stream from the same corpus. */
  def bowQueries(b: Bands, count: Int, salt: Long = 0L): Seq[QueryLine] = {
    val r = new scala.util.Random(seed * 31L + 5L + salt)
    val lengths = Array(3, 1, 5, 2, 4)
    val bandsInTurn = Array(b.hot, b.mid, b.rare)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < count) {
      val i = seen.size
      val terms = (0 until lengths(i % lengths.length))
        .map(j => pick(r, bandsInTurn((i + j) % 3))).distinct
      seen += terms.mkString(" ")
    }
    seen.toSeq.map(QueryLine(0, _, "bm25"))
  }

  /** Structured stream: Indri queries cycling through three shapes (SDM
    * `#WAND(#AND #NEAR/1 #WINDOW/8)` over a planted phrase, #NEAR/k over a
    * rare+hot pair, #SYN) and a RankedBoolean batch alternating #AND and
    * #OR over hot terms. The shape mix is fixed so that seeds vary the
    * terms, not the cost mix. `repeatShare` of the Indri lines repeat
    * earlier lines from the second on (a #NEAR/k first), at the end of the
    * Indri stream. */
  def structuredQueries(b: Bands, indriCount: Int, boolCount: Int,
                        repeatShare: Double, salt: Long = 0L): Seq[QueryLine] = {
    val r = new scala.util.Random(seed * 37L + 11L + salt)
    def sdm(ws: Seq[String]): String = {
      val pairs = ws.sliding(2).toSeq
      val near = pairs.map(p => s"#NEAR/1(${p.mkString(" ")})").mkString(" ")
      val win = pairs.map(p => s"#WINDOW/8(${p.mkString(" ")})").mkString(" ")
      s"#WAND(0.7 #AND(${ws.mkString(" ")}) 0.2 #AND($near) 0.1 #AND($win))"
    }
    def indri(i: Int): String = i % 3 match {
      case 0 => sdm(pick(r, phrases.toIndexedSeq).toSeq)
      case 1 => s"#NEAR/${2 + r.nextInt(4)}(${pick(r, b.rare)} ${pick(r, b.hot)})"
      case _ => s"#AND(#SYN(${pick(r, b.mid)} ${pick(r, b.mid)}) ${pick(r, b.hot)})"
    }
    def bool(i: Int): String =
      if (i % 2 == 0) s"#AND(${pick(r, b.hot)} ${pick(r, b.hot)})"
      else s"#OR(${pick(r, b.hot)} ${pick(r, b.hot)} ${pick(r, b.mid)})"
    // `repeats` lines at the end repeat earlier lines from the second on
    def stream(n: Int, repeats: Int, gen: Int => String): Seq[String] = {
      val out = mutable.LinkedHashSet.empty[String]
      while (out.size < n - repeats) out += gen(out.size)
      out.toSeq ++ out.toSeq.slice(1, 1 + repeats)
    }
    stream(indriCount, math.round(indriCount * repeatShare).toInt, indri)
      .map(QueryLine(0, _, "indri")) ++
      stream(boolCount, 0, bool).map(QueryLine(0, _, "boolean"))
  }

  /** Exactly a `share` of indices: every (1/share)-th one, from `offset`. */
  private def every(share: Double, i: Int, offset: Int): Boolean =
    share > 0 && i % math.round(1 / share).toInt == offset

  /** Near-dup text set: `n` base documents of 100–140 words; a `dupShare`
    * of them get a planted copy with one word appended (3-shingle Jaccard
    * ≥ 0.99, so 4×4 MinHash-LSH proposes it with probability > 1 − 1e-5),
    * and a further `nearShare` get a copy with a tenth of its words
    * replaced (Jaccard ≈ 0.5: some become candidates, some of those
    * verify). Returns the rows and the planted high-similarity pairs. */
  def dedupDocs(n: Int, dupShare: Double,
                nearShare: Double): (Seq[TextRow], Seq[(Long, Long)]) = {
    val r = new scala.util.Random(seed * 41L + 3L)
    val rows = mutable.ArrayBuffer.empty[TextRow]
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    var next = n.toLong
    for (i <- 0 until n) {
      val toks = body(r, 100, 140)
      rows += TextRow(i, toks.mkString(" "))
      if (every(dupShare, i, 0)) {
        rows += TextRow(next, (toks :+ vocab(zipfRank(r))).mkString(" "))
        planted += ((i.toLong, next)); next += 1
      } else if (every(nearShare, i, 1)) {
        val c = toks.clone()
        for (_ <- 0 until c.length / 10) c(r.nextInt(c.length)) = vocab(zipfRank(r))
        rows += TextRow(next, c.mkString(" ")); next += 1
      }
    }
    (rows.toSeq, planted.toSeq)
  }

  /** Embeddings: `n` Gaussian base vectors of `dim` floats; a `dupShare`
    * of them get a planted neighbour at cosine ≈ 1 − 1e-6. */
  def embeddings(n: Int, dim: Int,
                 dupShare: Double): (Seq[VecRow], Seq[(Long, Long)]) = {
    val r = new scala.util.Random(seed * 43L + 7L)
    val rows = mutable.ArrayBuffer.empty[VecRow]
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    var next = n.toLong
    for (i <- 0 until n) {
      val v = Array.fill(dim)(r.nextGaussian().toFloat)
      rows += VecRow(i, v)
      if (every(dupShare, i, 0)) {
        rows += VecRow(next, v.map(x => x + (r.nextGaussian() * 1e-3).toFloat))
        planted += ((i.toLong, next)); next += 1
      }
    }
    (rows.toSeq, planted.toSeq)
  }
}

object Inputs {
  /** Write a query stream in `Main`'s `qid:text` query-file format. */
  def writeQueries(path: Path, qs: Seq[QueryLine]): Unit =
    Files.write(path, qs.map(q => s"${q.qid}:${q.text}").mkString("\n").getBytes(UTF_8))

  def writeParquet[T <: Product : scala.reflect.runtime.universe.TypeTag](
      spark: SparkSession, rows: Seq[T], path: Path): Unit = {
    import spark.implicits._
    spark.createDataset(rows).write.parquet(path.toString)
  }
}
