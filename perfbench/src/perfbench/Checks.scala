package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.kernel.{DedupeConfig, DedupeKernel, Hashing, TextKernel}

/** One output span as the program emits it. */
final case class OutSpan(kind: String, text: String, mediaRef: String, order: Long)

/** Reference computations that do not go through the code under test:
  * assembly and normalization are restated here, SHA1 comes from
  * `java.security.MessageDigest`, and the expected span sequence comes from
  * the sequential kernel path run without Spark.
  */
object Ref {

  val MinChunk = 60
  val ChromeMax = 100
  private val chrome = TextKernel.defaultChromePatterns.map(java.util.regex.Pattern.compile)

  def ocr(ref: String): String =
    s"Scanned page $ref recognized text payload with sufficient descriptive length for chunking."

  /** Span texts in offset order, media spans OCR-mapped, joined by blank lines. */
  def assemble(doc: SpanDoc): String =
    doc.spans.sortBy(_.offset)
      .map(s => if (s.kind == "media") ocr(s.mediaRef) else s.text)
      .mkString("\n\n")

  /** Lowercase, collapse space/tab and newline runs, keep letters, digits,
    * space and newline, trim.
    */
  def normalize(s: String): String = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[ \\t]+", " ").replaceAll("\\n+", "\n")
    val sb = new java.lang.StringBuilder
    lower.codePoints().forEach { cp =>
      if (Character.isLetter(cp) || Character.isDigit(cp) || cp == ' ' || cp == '\n')
        sb.appendCodePoint(cp)
    }
    sb.toString.replaceAll("^[ \\n]+|[ \\n]+$", "")
  }

  def sha1(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
    val sb = new StringBuilder
    d.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xf, 16)).append(Character.forDigit(b & 0xf, 16)))
    sb.toString
  }

  def bytes(s: String): Int = s.getBytes(UTF_8).length

  def isShortChrome(text: String): Boolean = {
    val n = normalize(text)
    bytes(n) < ChromeMax && chrome.exists(_.matcher(n).find())
  }

  /** The sequential kernel path for one doc: chunkText -> filterChrome ->
    * DedupeKernel.dedupe. Returns the chunks passing the chrome filter and
    * the kept span sequence.
    */
  def kernelPath(doc: SpanDoc): (Int, Vector[OutSpan]) = {
    val chunks = TextKernel.chunkText(assemble(doc), MinChunk)
    val filtered = TextKernel.filterChrome(chunks, TextKernel.defaultChromePatterns, ChromeMax)
    val kept = DedupeKernel.dedupe(filtered, DedupeConfig()).kept
    (filtered.size, kept.zipWithIndex.map { case (c, i) => OutSpan("text", c.text, "", i.toLong) })
  }

  def simhash(text: String): Long = Hashing.simhash64(TextKernel.normalize(text), 5)

  /** `f` over `xs` on all cores, results in input order. */
  def parallel[A, B](xs: Vector[A])(f: A => B): Vector[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val step = math.max(1, xs.size / 64)
      val futures = xs.grouped(step).toVector.map { part =>
        pool.submit(new java.util.concurrent.Callable[Vector[B]] { def call(): Vector[B] = part.map(f) })
      }
      futures.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Union-find over doc ids; `root` gives the minimum id of the component. */
  final class MinUnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    def members: Iterable[Long] = parent.keys
  }
}

/** The benchmark's correctness checks. Each returns the violations it
  * found (empty when the output is correct); at most [[Checks.Max]] are
  * listed per check.
  */
object Checks {

  val Max = 20
  val Threshold = 6

  private final class Violations {
    private val buf = Vector.newBuilder[String]
    private var n = 0
    def add(msg: => String): Unit = { if (n < Max) buf += msg; n += 1 }
    def result: Vector[String] = {
      val v = buf.result()
      if (n > Max) v :+ s"... ${n - Max} more" else v
    }
  }

  /** Extraction output against the kernel path and the span properties.
    * `audit` holds each doc's (kept, dropped) counts from the audit frame;
    * pass `None` where the path under test has no audit frame to read.
    */
  def extraction(input: Input, out: Map[String, Seq[OutSpan]],
      audit: Option[Map[String, (Long, Long)]]): Vector[String] = {
    val v = new Violations
    val expected = Ref.parallel(input.spanDocs)(d => d.docId -> Ref.kernelPath(d)).toMap
    val withOutput = expected.collect { case (id, (_, k)) if k.nonEmpty => id }.toSet
    for (id <- out.keySet -- withOutput) v.add(s"$id: output for a doc with no kept span")
    for (doc <- input.spanDocs) {
      val id = doc.docId
      val (nFiltered, want) = expected(id)
      val got = out.getOrElse(id, Seq.empty)
      val sorted = got.sortBy(_.order)
      if (sorted != want) v.add(s"$id: span sequence differs from the kernel path " +
        s"(${got.size} spans, expected ${want.size})")
      if (got.map(_.order).sorted != got.indices.map(_.toLong))
        v.add(s"$id: order is not 0..${got.size - 1}: ${got.map(_.order).sorted.take(8)}")
      val shas = got.map(s => Ref.sha1(Ref.normalize(s.text)))
      if (shas.distinct.size != shas.size) v.add(s"$id: two kept spans share a normalized SHA1")
      for (t <- input.planted.exactRepeats.getOrElse(id, Vector.empty))
        if (got.count(_.text == t) > 1) v.add(s"$id: planted exact repeat kept twice")
      for (s <- got) {
        if (Ref.bytes(s.text) < Ref.MinChunk) v.add(s"$id: kept chunk under ${Ref.MinChunk} bytes")
        if (Ref.isShortChrome(s.text)) v.add(s"$id: kept chrome line under ${Ref.ChromeMax} bytes")
      }
      audit.foreach { a =>
        val (k, d) = a.getOrElse(id, (0L, 0L))
        if (k + d != nFiltered) v.add(s"$id: kept $k + dropped $d != $nFiltered chunks past the chrome filter")
        if (k != got.size) v.add(s"$id: audit frame keeps $k, output has ${got.size}")
      }
    }
    v.result
  }

  /** Near-dup pairs, CC winners and survivors of the q47 path. */
  def nearDup(input: Input, pairs: Seq[(Long, Long, Int)], winners: Map[Long, Long],
      survivors: Map[Long, Long]): Vector[String] = {
    val v = new Violations
    val text = input.textDocs.iterator.map(d => d.docId -> d.text).toMap
    val sig = scala.collection.mutable.HashMap.empty[Long, Long]
    def sigOf(id: Long) = sig.getOrElseUpdate(id, Ref.simhash(text(id)))
    val pairSet = scala.collection.mutable.HashSet.empty[(Long, Long)]
    for ((a, b, d) <- pairs) {
      if (!(a < b)) v.add(s"pair ($a, $b): a is not below b")
      if (!text.contains(a) || !text.contains(b)) v.add(s"pair ($a, $b): unknown doc id")
      else {
        val dist = Hashing.hammingDistance(sigOf(a), sigOf(b))
        if (dist > Threshold) v.add(s"pair ($a, $b): Hamming distance $dist > $Threshold")
        if (dist != d) v.add(s"pair ($a, $b): reported distance $d, recomputed $dist")
      }
      if (!pairSet.add((a, b))) v.add(s"pair ($a, $b) emitted twice")
    }
    val planted = input.planted.cliques.iterator.flatMap(c => c.combinations(2).map(p => (p(0), p(1)))) ++
      input.planted.chains.iterator.flatMap(_.sliding(2).map(p => (p(0), p(1))))
    for ((x, y) <- planted) {
      val (a, b) = (math.min(x, y), math.max(x, y))
      if (Hashing.hammingDistance(sigOf(a), sigOf(b)) <= Threshold && !pairSet((a, b)))
        v.add(s"planted pair ($a, $b) within distance $Threshold not found")
    }
    val uf = new Ref.MinUnionFind
    for ((a, b) <- pairSet) uf.union(a, b)
    val clustered = uf.members.toSet
    if (winners.keySet != clustered)
      v.add(s"winners cover ${winners.size} docs, the pairs connect ${clustered.size}")
    for (d <- clustered; w <- winners.get(d) if w != uf.find(d))
      v.add(s"doc $d: winner $w, component minimum ${uf.find(d)}")
    val size = clustered.groupBy(uf.find).map { case (w, m) => w -> m.size.toLong }
    val expectedSurvivors = size ++ (text.keySet -- clustered).iterator.map(_ -> 1L)
    if (survivors.keySet != expectedSurvivors.keySet)
      v.add(s"${survivors.size} survivors, expected ${expectedSurvivors.size} (components plus singletons)")
    for ((d, n) <- survivors; e <- expectedSurvivors.get(d) if n != e)
      v.add(s"survivor $d: n_members $n, component size $e")
    if (survivors.values.sum != text.size)
      v.add(s"n_members sum to ${survivors.values.sum}, not the ${text.size} docs")
    v.result
  }

  /** Snapshot table: read-back spans, bucket coverage and lineage. */
  def snapshot(input: Input, out: Map[String, Seq[OutSpan]], completed: Set[Int],
      nBuckets: Int, lineageDocs: Long): Vector[String] = {
    val v = new Violations
    extraction(input, out, None).foreach(m => v.add(m))
    if (completed != (0 until nBuckets).toSet)
      v.add(s"completed buckets ${completed.toSeq.sorted} do not cover 0..${nBuckets - 1}")
    if (lineageDocs != input.nDocs) v.add(s"lineage n_docs sum to $lineageDocs, input has ${input.nDocs}")
    v.result
  }
}
