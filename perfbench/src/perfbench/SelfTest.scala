package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests:
  *
  *   perfbench.SelfTest <scratch dir>
  *
  *  - one seed gives byte-identical parquet inputs, two seeds differ;
  *  - each correctness check accepts a correct output and rejects a
  *    deliberately corrupted one: swapped kept order, a dropped exact
  *    duplicate put back, a bogus LSH pair, a wrong CC winner, a missing
  *    snapshot bucket.
  *
  * Prints one line per test and exits 1 if any fails.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => e.printStackTrace(); false }
    if (!pass) failures += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  /** Correct outputs for an extraction input: the kernel path. */
  private def kernelOut(input: Input): (Map[String, Seq[OutSpan]], Map[String, (Long, Long)]) = {
    val per = input.spanDocs.map(d => d.docId -> Ref.kernelPath(d))
    (per.collect { case (id, (_, k)) if k.nonEmpty => id -> k }.toMap,
      per.map { case (id, (n, k)) => id -> (k.size.toLong, (n - k.size).toLong) }.toMap)
  }

  /** Correct outputs for a near-dup input, by brute force over all pairs. */
  private def nearDupOut(input: Input): (Seq[(Long, Long, Int)], Map[Long, Long], Map[Long, Long]) = {
    val docs = input.textDocs.map(d => d.docId -> Ref.simhash(d.text))
    val pairs = for {
      i <- docs.indices; j <- i + 1 until docs.size
      d = graft.kernel.Hashing.hammingDistance(docs(i)._2, docs(j)._2) if d <= Checks.Threshold
    } yield (math.min(docs(i)._1, docs(j)._1), math.max(docs(i)._1, docs(j)._1), d)
    val uf = new Ref.MinUnionFind
    pairs.foreach { case (a, b, _) => uf.union(a, b) }
    val winners = uf.members.map(d => d -> uf.find(d)).toMap
    val sizes = winners.groupBy(_._2).map { case (w, m) => w -> m.size.toLong }
    val survivors = sizes ++ docs.map(_._1).filterNot(winners.contains).map(_ -> 1L)
    (pairs, winners, survivors)
  }

  private def writeBytes(spark: SparkSession, input: Input, dir: Path): Vector[Array[Byte]] = {
    InputIO.write(spark, input, dir, 4)
    InputIO.parquetFiles(dir).map(p => Files.readAllBytes(p))
  }

  private def same(a: Vector[Array[Byte]], b: Vector[Array[Byte]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }

  def main(args: Array[String]): Unit = {
    val scratch = Paths.get(args.headOption.getOrElse(".bench_runs/selftest"))
    Main.deleteTree(scratch)
    Files.createDirectories(scratch)
    val small = Gen.smallDocs(7, 40)
    val long = Gen.longDocs(7, 2, 600, 900)
    val near = Gen.nearDupCorpus(7, 400)

    val spark = Main.session(scratch, cores = 2)
    try {
      for ((name, gen) <- Seq[(String, Long => Input)](
          "small-docs" -> (Gen.smallDocs(_, 40)),
          "long-docs" -> (Gen.longDocs(_, 2, 600, 900)),
          "near-dup-corpus" -> (Gen.nearDupCorpus(_, 400)))) {
        val a = writeBytes(spark, gen(11), scratch.resolve(s"$name-a"))
        val b = writeBytes(spark, gen(11), scratch.resolve(s"$name-b"))
        val c = writeBytes(spark, gen(12), scratch.resolve(s"$name-c"))
        test(s"$name: one seed gives byte-identical parquet (${a.size} files)")(a.size == 4 && same(a, b))
        test(s"$name: two seeds give different parquet")(!same(a, c))
      }
    } finally spark.stop()

    // extraction checks
    for ((name, input) <- Seq("small-docs" -> small, "long-docs" -> long)) {
      val (out, audit) = kernelOut(input)
      test(s"$name: the kernel path passes the extraction checks")(
        Checks.extraction(input, out, Some(audit)).isEmpty)
      val id = out.keys.toSeq.sorted.head
      val spans = out(id)
      val swapped = spans.map {
        case s if s.order == 0 => s.copy(order = 1)
        case s if s.order == 1 => s.copy(order = 0)
        case s => s
      }
      test(s"$name: swapped kept order is rejected")(
        Checks.extraction(input, out.updated(id, swapped), Some(audit)).nonEmpty)
      val repeat = input.planted.exactRepeats(id).head
      val putBack = spans :+ OutSpan("text", repeat, "", spans.size.toLong)
      test(s"$name: a dropped exact duplicate put back is rejected")(
        Checks.extraction(input, out.updated(id, putBack),
          Some(audit.updated(id, (audit(id)._1 + 1, audit(id)._2 - 1)))).nonEmpty)
    }
    {
      val (out, _) = kernelOut(small)
      val id = out.keys.toSeq.sorted.head
      test("snapshot: a complete table passes")(Checks.snapshot(small, out, (0 until 8).toSet, 8, small.nDocs).isEmpty)
      test("snapshot: a missing bucket is rejected")(
        Checks.snapshot(small, out, (0 until 7).toSet, 8, small.nDocs).nonEmpty)
      test("snapshot: a lost doc is rejected")(
        Checks.snapshot(small, out - id, (0 until 8).toSet, 8, small.nDocs - 1).nonEmpty)
    }

    // near-dup checks
    val (pairs, winners, survivors) = nearDupOut(near)
    test(s"near-dup-corpus: brute-force output passes the checks (${pairs.size} pairs)")(
      pairs.nonEmpty && Checks.nearDup(near, pairs, winners, survivors).isEmpty)
    val far = {
      val docs = near.textDocs.map(d => d.docId -> Ref.simhash(d.text))
      (for (x <- docs.iterator; y <- docs.iterator if x._1 < y._1) yield (x, y))
        .find { case (x, y) => graft.kernel.Hashing.hammingDistance(x._2, y._2) > 20 }.get
    }
    val bogus = (far._1._1, far._2._1, graft.kernel.Hashing.hammingDistance(far._1._2, far._2._2))
    test("near-dup-corpus: a bogus LSH pair is rejected")(
      Checks.nearDup(near, pairs :+ bogus, winners, survivors).nonEmpty)
    val clique = near.planted.cliques.head
    val planted = (clique.min, clique.max)
    test("near-dup-corpus: a missing planted pair is rejected")(
      Checks.nearDup(near, pairs.filterNot(p => (p._1, p._2) == planted), winners, survivors).nonEmpty)
    val (loser, _) = winners.find { case (d, w) => d != w }.get
    test("near-dup-corpus: a wrong CC winner is rejected")(
      Checks.nearDup(near, pairs, winners.updated(loser, loser), survivors).nonEmpty)

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
