package perfbench

import java.util.SplittableRandom

/** One span of an interleaved document, in the `docs(doc_id, spans)` shape
  * the extraction pipeline reads.
  */
final case class Span(kind: String, text: String, mediaRef: String, offset: Int)

final case class SpanDoc(docId: String, spans: Vector[Span])

final case class TextDoc(docId: Long, text: String)

/** A generated input. Extraction workloads fill `spanDocs`, the near-dup
  * corpus fills `textDocs`; `planted` holds the structure the checks expect
  * the program to find.
  */
final case class Input(
    spanDocs: Vector[SpanDoc] = Vector.empty,
    textDocs: Vector[TextDoc] = Vector.empty,
    planted: Planted = Planted()) {
  def nDocs: Int = spanDocs.size + textDocs.size
}

/** Planted structure.
  *  - `exactRepeats`: per doc id, texts that occur more than once in the doc
  *    (the later copies must be dropped).
  *  - `cliques`: groups of doc ids with identical text.
  *  - `chains`: doc ids whose consecutive members differ by one word.
  */
final case class Planted(
    exactRepeats: Map[String, Vector[String]] = Map.empty,
    cliques: Vector[Vector[Long]] = Vector.empty,
    chains: Vector[Vector[Long]] = Vector.empty)

/** Seeded input generator. The same (workload, seed, scale) gives the same
  * input; nothing is read from disk. Texts follow the make-up of the sf0.1
  * `documents.text` column: space-separated words from a small vocabulary,
  * 44 to 577 bytes, median about 300.
  */
object Gen {

  val Vocab: Vector[String] = Vector(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "customer", "the")

  // The constant spans of the corpus layout (graft.ops.Corpus), restated so
  // the benchmark's inputs do not depend on the code under test.
  val ChromeLine =
    "Battery 85% charging wifi signal weak and the search bar stays visible on screen"
  val LongChrome =
    "Battery 85% charging wifi signal weak and the search bar stays visible on screen while the long article text continues beyond the chrome length limit"
  val CrlfPara =
    "First line with some words here\r\nsecond line continues the same paragraph nicely"
  val Tail = "plus appended tail words that modify the ending slightly"
  val AccentPara = "Café résumé naïvé jälapeño àéîõü über çédille œuvré"
  val UnicodeWsPara =
    "\u00A0\u2007Unicode whitespace padded paragraph body retains enough length for chunking\u3000\u2009"

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  private def between(r: SplittableRandom, lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)

  /** Words from [[Vocab]] until the text reaches a length in [lo, hi]. */
  def words(r: SplittableRandom, lo: Int, hi: Int): String = {
    val target = between(r, lo, hi)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.size)))
    }
    sb.toString
  }

  /** Replace one word with a different vocabulary word. */
  def editOneWord(r: SplittableRandom, text: String): String = {
    val ws = text.split(" ")
    val i = r.nextInt(ws.length)
    var w = ws(i)
    while (w == ws(i)) w = Vocab(r.nextInt(Vocab.size))
    ws(i) = w
    ws.mkString(" ")
  }

  /** `long-docs`: `nDocs` docs of `chunks / 2` to `3 * chunks / 2`
    * one-paragraph spans (60..128 bytes; the counts are fixed, the seed only
    * orders them) plus one giant doc of `giant` spans. About 8% of spans
    * repeat an earlier span exactly and 8% repeat one with a word changed;
    * half of each land within 200 positions of their source (inside the
    * 250-chunk window), the rest 300 or more positions back (beyond it).
    * Every 50th span is a chrome line and every 100th a media span.
    */
  def longDocs(seed: Long, nDocs: Int, chunks: Int, giant: Int): Input = {
    val r = rng(seed, 2)
    val counts = permutation(r, nDocs).map(i => chunks / 2 + i * chunks / math.max(1, nDocs - 1))
    val repeats = Map.newBuilder[String, Vector[String]]
    val docs = Vector.tabulate(nDocs + 1) { i =>
      val id = if (i == nDocs) "giant" else f"l$i%05d"
      val n = if (i == nDocs) giant else counts(i)
      val texts = new Array[String](n)
      val reps = Vector.newBuilder[String]
      for (p <- 0 until n) {
        val back =
          if (p < 2) 0
          else if (r.nextBoolean() || p <= 300) between(r, 1, math.min(p - 1, 200))
          else between(r, 300, p - 1)
        val roll = r.nextInt(100)
        val source = if (back > 0) texts(p - back) else null
        val repeatable = source != null && source != ChromeLine
        texts(p) =
          if (p % 50 == 49) ChromeLine
          else if (p % 100 == 99) null // media span
          else if (repeatable && roll < 8) { reps += source; source }
          else if (repeatable && roll < 16) editOneWord(r, source)
          else words(r, 60, 120)
      }
      val spans = texts.iterator.zipWithIndex.map {
        case (null, p) => Span("media", "", s"img_${id}_$p.png", p)
        case (t, p) => Span("text", t, "", p)
      }.toVector
      repeats += id -> reps.result().distinct
      SpanDoc(id, spans)
    }
    Input(spanDocs = docs, planted = Planted(exactRepeats = repeats.result()))
  }

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  private def permutation(r: SplittableRandom, n: Int): Vector[Int] = {
    val a = Array.tabulate(n)(identity)
    for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toVector
  }

  /** Near-dup group sizes, used in turn. */
  val CliqueSizes: Vector[Int] = Vector(2, 40, 3, 2, 120, 5, 2, 13, 3, 8, 4)
  val ChainLengths: Vector[Int] = Vector(3, 4, 5)

  /** A random substitution of the lower-case letters. */
  def substitution(r: SplittableRandom): String => String = {
    val to = Array.tabulate(26)(i => ('a' + i).toChar)
    for (i <- 25 to 1 by -1) { val j = r.nextInt(i + 1); val t = to(i); to(i) = to(j); to(j) = t }
    _.map(c => if (c >= 'a' && c <= 'z') to(c - 'a') else c)
  }

  /** `small-docs`: the 12-span layout of `Corpus.docsTable`, one source text
    * `t` per doc (64..580 bytes, so every planted repeat survives chunking).
    */
  def smallDocs(seed: Long, nDocs: Int): Input = {
    val r = rng(seed, 1)
    val docs = Vector.tabulate(nDocs) { i =>
      val id = f"d$i%06d"
      val t = words(r, 64, 580)
      def txt(s: String, o: Int) = Span("text", s, "", o)
      SpanDoc(id, Vector(
        txt(t, 0),
        Span("media", "", s"img_${id}_1.png", 1),
        txt(ChromeLine, 2),
        Span("media", "", s"img_${id}_2.jpg", 3),
        txt(t, 4),
        txt("ok", 5),
        txt(t.toUpperCase(java.util.Locale.ROOT) + "!", 6),
        txt(CrlfPara, 7),
        txt(LongChrome, 8),
        txt(s"$t $Tail", 9),
        txt(AccentPara, 10),
        txt(UnicodeWsPara, 11)))
    }
    Input(spanDocs = docs,
      planted = Planted(exactRepeats = docs.iterator.map(d => d.docId -> Vector(d.spans(0).text)).toMap))
  }

  /** `near-dup-corpus`: `nDocs` (doc_id, text) docs: exact-duplicate
    * cliques holding about a quarter of the docs, near-dup chains (one word
    * changed per step) another quarter, and singletons. Group sizes cycle
    * through fixed lists, so every seed has the same make-up. The seed picks
    * the texts, a letter substitution per group (groups under different
    * substitutions share almost no byte shingles, so unrelated groups stay
    * far apart in SimHash) and the doc ids: a permutation, ascending within
    * a group along its chain, so the number of connected-component rounds
    * does not depend on the seed.
    */
  def nearDupCorpus(seed: Long, nDocs: Int): Input = {
    val r = rng(seed, 3)
    val groups = Vector.newBuilder[(Char, Vector[String])] // 'c' clique, 'h' chain, 's' single
    var left = nDocs
    var inCliques = 0
    var inChains = 0
    var nCliques = 0
    var nChains = 0
    while (left > 0) {
      val cipher = substitution(r)
      if (inCliques < nDocs / 4) {
        val k = math.min(left, CliqueSizes(nCliques % CliqueSizes.size))
        nCliques += 1
        val text = cipher(words(r, 150, 580))
        groups += (('c', Vector.fill(k)(text))); inCliques += k; left -= k
      } else if (inChains < nDocs / 4) {
        val k = math.min(left, ChainLengths(nChains % ChainLengths.size))
        nChains += 1
        // edits happen before the substitution, so the changed word is a vocabulary word
        val plain = Vector.iterate(words(r, 150, 580), k)(editOneWord(r, _))
        groups += (('h', plain.map(cipher))); inChains += k; left -= k
      } else { groups += (('s', Vector(cipher(words(r, 150, 580))))); left -= 1 }
    }
    val ids = permutation(r, nDocs).map(_.toLong)
    var next = 0
    val docs = Vector.newBuilder[TextDoc]
    val cliques = Vector.newBuilder[Vector[Long]]
    val chains = Vector.newBuilder[Vector[Long]]
    for ((kind, texts) <- groups.result()) {
      val gid = ids.slice(next, next + texts.size).sorted
      next += texts.size
      texts.zip(gid).foreach { case (t, id) => docs += TextDoc(id, t) }
      if (kind == 'c') cliques += gid else if (kind == 'h') chains += gid
    }
    Input(textDocs = docs.result().sortBy(_.docId),
      planted = Planted(cliques = cliques.result(), chains = chains.result()))
  }

  /** The input of a named workload. */
  def generate(workload: String, seed: Long): Input = workload match {
    case "small-docs" => smallDocs(seed, Sizes.SmallDocs)
    case "long-docs" => longDocs(seed, Sizes.LongDocs, Sizes.LongChunks, Sizes.GiantChunks)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Input sizes, chosen so one pass takes about a second at local[4]. */
object Sizes {
  val SmallDocs = 8000
  val LongDocs = 60
  val LongChunks = 800
  val GiantChunks = 8000
  /** The near-dup corpus of the traced run's LSH and CC probe. */
  val NearDupDocs = 3000
}
