package perfbench

import scala.collection.mutable

/** splitmix64 stream: the only source of randomness in the benchmark, so one
  * seed fixes every generated row, filter and query vector. */
final class Rng(seed: Long) {
  private var state = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var x = state
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
  }
  def shuffle[T](xs: mutable.IndexedSeq[T]): Unit =
    for (i <- xs.indices.reverse if i > 0) {
      val j = nextInt(i + 1); val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
  /** Fork an independent stream, so adding draws to one generator does not
    * shift the rows another one makes. */
  def fork(tag: Int): Rng = new Rng(nextLong() ^ tag.toLong)
}

/** Zipf(s = 1.1) word sampler over a five-language vocabulary. Every
  * language starts with the stop words the engine's language-ID heuristic
  * counts, so `langIdScores` has real work; `zh` words are CJK characters. */
final class Vocab(rng: Rng, wordsPerLang: Int = 2000) {
  val langs: Seq[String] = Seq("en", "de", "fr", "es", "zh")
  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "zh" -> Seq.empty[String])
  private val syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
    "ve", "du", "ha", "zo", "be", "qi", "fu", "ga")
  private def synth(lang: String, i: Int): String =
    if (lang == "zh") new String(Character.toChars(0x4e00 + i))
    else {
      val sb = new StringBuilder(lang)
      var x = i + 1
      while (x > 0) { sb ++= syllables(x % syllables.length); x /= syllables.length }
      sb.toString
    }
  val words: Map[String, Array[String]] = langs.map { l =>
    l -> (stop(l) ++ (0 until wordsPerLang - stop(l).size).map(synth(l, _))).toArray
  }.toMap
  private val cdf: Array[Double] = {
    val w = (1 to wordsPerLang).map(r => 1.0 / math.pow(r.toDouble, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }
  def word(lang: String): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    words(lang)(math.min(if (i >= 0) i else -i - 1, wordsPerLang - 1))
  }
  def text(lang: String, n: Int): Array[String] = Array.fill(n)(word(lang))
  def lang(): String = langs(rng.nextInt(langs.size))
}

/** One collection row as the engine's `Collection.create` takes it. Year is
  * uniform over 2000–2024 and Rating over 1–10; the benchmark keeps the
  * typed values to evaluate filters independently of the engine. */
final case class Doc(id: String, document: String, year: Int, rating: Int) {
  def metadata: Seq[String] = Seq(s"""{"Year": $year}""", s"""{"Rating": $rating}""")
}

/** A serve request. `filters` are reference-DSL JSON strings; `matches`
  * evaluates the same predicate on a generated row, for the brute-force
  * check. */
final case class Request(id: String, cls: String, vec: Array[Float],
    filters: Seq[String], matches: Doc => Boolean)

object Gen {
  val Years = 2000 to 2024
  val Dim = 128
  val TopK = 10

  /** Request classes, their share of a block of ten requests, and the share
    * of rows their filter passes. */
  val Classes: Seq[(String, Int, Double)] = Seq(
    ("cosine_nofilter", 3, 1.0),
    ("cosine_selective", 2, 1.0 / 25), // one Year of 25
    ("cosine_broad", 2, 0.4),          // 4 Ratings of 10
    ("cosine_conj", 1, 0.3),           // 15 Years of 25 and 5 Ratings of 10
    ("nearest", 2, 1.0))

  def docs(rng: Rng, vocab: Vocab, n: Int, prefix: String, words: Int): IndexedSeq[Doc] =
    (0 until n).map { i =>
      Doc(f"$prefix$i%07d", vocab.text(vocab.lang(), words).mkString(" "),
        Years.start + rng.nextInt(Years.size), 1 + rng.nextInt(10))
    }

  private def unitVec(rng: Rng): Array[Float] = {
    val v = Array.fill(Dim)(rng.gaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def request(rng: Rng, id: String, cls: String): Request = {
    val vec = unitVec(rng)
    cls match {
      case "cosine_selective" =>
        val y = Years.start + rng.nextInt(Years.size)
        Request(id, cls, vec, Seq(s"""{"Year": {"eq": $y}}"""), _.year == y)
      case "cosine_broad" =>
        if (rng.nextInt(2) == 0)
          Request(id, cls, vec, Seq("""{"Rating": {"gte": 7}}"""), _.rating >= 7)
        else Request(id, cls, vec, Seq("""{"Rating": {"lte": 4}}"""), _.rating <= 4)
      case "cosine_conj" =>
        Request(id, cls, vec, Seq("""{"Year": {"gte": 2010}}""", """{"Rating": {"lte": 5}}"""),
          d => d.year >= 2010 && d.rating <= 5)
      case _ => Request(id, cls, vec, Seq.empty, _ => true)
    }
  }

  /** Endless request stream: each block of ten holds every class in its
    * stated share, in a seeded order, so any run of whole blocks has the
    * same mix. */
  def requests(rng: Rng, prefix: String): Iterator[Request] = {
    val block = Classes.flatMap { case (c, k, _) => Seq.fill(k)(c) }.to(mutable.ArrayBuffer)
    Iterator.from(0).flatMap { b =>
      rng.shuffle(block)
      block.toList.zipWithIndex.map { case (c, i) => request(rng, s"$prefix${b * block.size + i}", c) }
    }
  }

  /** Curate corpus with planted duplicates. Exact duplicates copy an
    * original's text; near duplicates replace one word of an original with a
    * different word. Sources are distinct originals, and all non-copied texts
    * are distinct, so the planted counts are exact. */
  final case class Corpus(rows: IndexedSeq[(String, String, String)], // (id, text, lang)
      exactDups: Int, nearPairs: Set[(String, String)])

  def corpus(rng: Rng, vocab: Vocab, n: Int, exactRate: Double, nearRate: Double,
      piiRate: Double, words: Int = 50): Corpus = {
    val nExact = (n * exactRate).toInt
    val nNear = (n * nearRate).toInt
    val nOrig = n - nExact - nNear
    val seen = mutable.HashSet.empty[String]
    def fresh(make: => String): String = {
      var t = make
      while (!seen.add(t)) t = make
      t
    }
    val orig = (0 until nOrig).map { _ =>
      val lang = vocab.lang()
      val pii = rng.nextDouble() < piiRate
      (fresh {
        val ws = vocab.text(lang, words)
        if (pii) {
          ws(rng.nextInt(words)) = s"user${rng.nextInt(100000)}@example.com"
          ws(rng.nextInt(words)) = s"555-${100 + rng.nextInt(900)}-${1000 + rng.nextInt(9000)}"
        }
        ws.mkString(" ")
      }, lang)
    }
    val order = (0 until nOrig).to(mutable.ArrayBuffer)
    rng.shuffle(order)
    val exactSrc = order.take(nExact)
    val nearSrc = order.slice(nExact, nExact + nNear)
    val ids = (0 until n).to(mutable.ArrayBuffer)
    rng.shuffle(ids)
    def id(i: Int): String = f"c${ids(i)}%07d"
    val exact = exactSrc.map(s => orig(s))
    val near = nearSrc.map { s =>
      val (t, lang) = orig(s)
      val ws = t.split(" ")
      val pos = rng.nextInt(ws.length)
      (fresh {
        var w = vocab.word(lang)
        while (w == ws(pos)) w = vocab.word(lang)
        ws.updated(pos, w).mkString(" ")
      }, lang)
    }
    val all = orig ++ exact ++ near
    val rows = all.indices.map(i => (id(i), all(i)._1, all(i)._2))
    val nearPairs = nearSrc.indices.map { j =>
      val a = id(nearSrc(j)); val b = id(nOrig + nExact + j)
      if (a < b) (a, b) else (b, a)
    }.toSet
    Corpus(rows, nExact, nearPairs)
  }
}
