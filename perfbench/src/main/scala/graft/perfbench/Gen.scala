package graft.perfbench

import java.util.SplittableRandom

/** One generated document. `sentinel` is a token that occurs in this
  * document and nowhere else in the corpus. */
final case class Doc(idx: Int, path: String, content: String, sentinel: String)

/** One search request of the reader stream. `sentinelOf` names the corpus
  * index whose document must come back first. */
final case class Req(query: String, mode: String, topK: Int,
    snippetTokens: Option[Int], mmrLambda: Option[Double],
    sentinelOf: Option[Int])

/** One writer operation: `New` uploads fresh documents, `Upsert`
  * re-uploads an existing path with new content, `Delete` removes paths. */
sealed trait WriteOp
final case class NewDocs(docs: Seq[Doc]) extends WriteOp
final case class Upsert(old: Doc, fresh: Doc) extends WriteOp
final case class Delete(docs: Seq[Doc]) extends WriteOp

/** Seeded input generator: the corpus, the reader request stream and the
  * writer stream are pure functions of (seed, sizes), so one seed gives
  * byte-identical inputs in every JVM ([[fingerprint]]).
  *
  * The vocabulary is a few thousand synthetic alphabetic terms drawn with
  * Zipf(1.1) frequencies, so keyword queries have realistic selectivity
  * (a head of common terms, a long tail of rare ones); document lengths
  * vary over a wide range; each document carries one unique sentinel
  * token (letters + digits, never a vocabulary word).
  */
final class Gen(val seed: Long, vocabSize: Int = 4000) {
  private val syllables = {
    val cs = "bdfgklmnprstvz"; val vs = "aeiou"
    for (c <- cs; v <- vs) yield s"$c$v"
  }

  val vocab: IndexedSeq[String] = {
    val rng = new SplittableRandom(seed ^ 0x5EEDL)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < vocabSize) {
      val n = 2 + rng.nextInt(3)
      val w = (0 until n).map(_ => syllables(rng.nextInt(syllables.length))).mkString
      if (!graft.text.Stopwords.en(w)) seen += w
    }
    seen.toIndexedSeq
  }

  private val zipfCdf: Array[Double] = {
    val w = (1 to vocabSize).map(r => 1.0 / math.pow(r, 1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** The vocabulary word at Zipf quantile `u` in [0, 1). */
  private def wordAt(u: Double): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    vocab(math.min(vocabSize - 1, if (i >= 0) i else -i - 1))
  }

  private def word(rng: SplittableRandom): String = wordAt(rng.nextDouble())

  private val tag = java.lang.Long.toString(math.abs(seed % 46656L), 36)

  def sentinel(idx: Int, version: Int = 0): String =
    f"zq${tag}x$idx%06dv$version"

  /** Document `idx` (version > 0 for upsert content): `minWords` to
    * `maxWords` words in sentences of 6-18 words, sentinel at a seeded
    * position. */
  def doc(idx: Int, minWords: Int, maxWords: Int, version: Int = 0): Doc = {
    val rng = new SplittableRandom(seed * 1000003L + idx * 31L + version)
    val n = minWords + rng.nextInt(maxWords - minWords + 1)
    val s = sentinel(idx, version)
    val at = rng.nextInt(n)
    val sb = new StringBuilder
    var inSentence = 0
    var sentenceLen = 6 + rng.nextInt(13)
    for (i <- 0 until n) {
      val w = if (i == at) s else word(rng)
      if (inSentence == 0) sb.append(w.capitalize) else sb.append(' ').append(w)
      inSentence += 1
      if (inSentence == sentenceLen || i == n - 1) {
        sb.append(". ")
        inSentence = 0
        sentenceLen = 6 + rng.nextInt(13)
      }
    }
    Doc(idx, f"/corpus/d$idx%06d.txt", sb.toString.trim, s)
  }

  def corpus(n: Int, minWords: Int, maxWords: Int): IndexedSeq[Doc] =
    (0 until n).map(doc(_, minWords, maxWords))

  /** Reader stream `stream` (one per client): back-to-back search
    * sessions. The shape follows the interactive-session model of
    * "Incremental Based Framework for Efficient Top-K Similarity Search in
    * Interactive Data Analysis Sessions" (EDBT 2020): a session asks one
    * question and then builds on it instead of starting over. Each
    * session is [[Gen.SessionLen]] requests:
    *
    *   1. q      top_k 5
    *   2. q      top_k 10  (the same question, deeper)
    *   3. q + t  top_k 10  (refined by one term)
    *   4. q + t  top_k 20  (the refined answer, read with snippets)
    *
    * Sessions come in blocks of four with a fixed composition, so every
    * seed gives the same mix and only the contents vary: modes hybrid,
    * hybrid, keyword, semantic; q of 1 word in two sessions and 2 words in
    * the other two; in one session the last request asks for MMR instead
    * of snippets. The words of a block are stratified over the Zipf
    * distribution, so every block spans the same range of term
    * frequencies. These proportions are assumptions of the benchmark; no
    * measured agent traffic backs them. */
  def requests(stream: Int, n: Int): IndexedSeq[Req] = {
    val rng = new SplittableRandom(seed * 7919L + stream * 104729L + 17L)
    def shuffled[T](xs: Seq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      for (i <- a.indices.reverse.dropRight(1)) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
    def block(): IndexedSeq[Req] = {
      val modes = shuffled(Seq("hybrid", "hybrid", "keyword", "semantic"))
      val lens = shuffled(Seq(1, 1, 2, 2))
      val mmr = shuffled(Seq(true, false, false, false))
      val slots = lens.sum + 4
      val us = shuffled(0 until slots).map(k => (k + rng.nextDouble()) / slots)
      var w = 0
      def next(): String = { w += 1; wordAt(us(w - 1)) }
      (0 until 4).flatMap { i =>
        val q = (0 until lens(i)).map(_ => next()).mkString(" ")
        val refined = s"$q ${next()}"
        def req(query: String, k: Int) = Req(query, modes(i), k, None, None, None)
        Seq(req(q, 5), req(q, 10), req(refined, 10),
          if (mmr(i)) req(refined, 20).copy(mmrLambda = Some(0.7))
          else req(refined, 20).copy(snippetTokens = Some(16)))
      }
    }
    Iterator.continually(block()).flatten.take(n).toIndexedSeq
  }

  /** `n` keyword queries for sentinels of distinct documents in
    * [0, docs): each must return its own document first. */
  def sentinelQueries(n: Int, docs: Int): IndexedSeq[Req] = {
    val rng = new SplittableRandom(seed * 104723L + 5L)
    val picked = scala.collection.mutable.LinkedHashSet[Int]()
    while (picked.size < math.min(n, docs)) picked += rng.nextInt(docs)
    picked.toIndexedSeq.map(d => Req(sentinel(d), "keyword", 5, None, None, Some(d)))
  }

  /** Writer stream over the corpus tail [firstWritable, corpusSize): a
    * fixed new, upsert, new, delete pattern (one document per op), so
    * every run does the same kind of work; contents and targets come from
    * the seed. Documents stay in the tail, so reader sentinel queries
    * never target them. */
  def writes(n: Int, corpusSize: Int, firstWritable: Int,
      minWords: Int, maxWords: Int): IndexedSeq[WriteOp] = {
    val rng = new SplittableRandom(seed * 15485863L + 3L)
    val live = scala.collection.mutable.ArrayBuffer[Doc]() ++=
      (firstWritable until corpusSize).map(doc(_, minWords, maxWords))
    var next = corpusSize
    var version = 0
    (0 until n).map { i =>
      i % 4 match {
        case 1 if live.nonEmpty =>
          val j = rng.nextInt(live.size)
          val old = live(j)
          version += 1
          val fresh = doc(old.idx, minWords, maxWords, version).copy(path = old.path)
          live(j) = fresh
          Upsert(old, fresh)
        case 3 if live.size > 1 =>
          Delete(Seq(live.remove(rng.nextInt(live.size))))
        case _ =>
          val d = doc(next, minWords, maxWords)
          next += 1
          live += d
          NewDocs(Seq(d))
      }
    }
  }
}

object Gen {
  /** Requests per session of [[Gen.requests]]. */
  val SessionLen = 4

  /** SHA-256 over every generated byte, for determinism checks. */
  def fingerprint(docs: Seq[Doc], reqs: Seq[Req], writes: Seq[WriteOp]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\u0000").getBytes("UTF-8"))
    docs.foreach(d => put(s"${d.idx}|${d.path}|${d.sentinel}|${d.content}"))
    reqs.foreach(r => put(r.toString))
    writes.foreach {
      case NewDocs(ds) => put("new"); ds.foreach(d => put(d.path + d.content))
      case Upsert(o, f) => put("upsert" + o.path + f.content)
      case Delete(ds) => put("delete"); ds.foreach(d => put(d.path))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
