package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.jobs.ExtractionJob
import graft.kernel.{DedupeConfig, DedupeKernel, Hashing, TextKernel}
import graft.ops.{Chunker, Corpus, DedupeOps, Exprs, LshDedup}
import graft.table.SnapshotTable

/** The traced run: one pass of the workload's path with spans around each
  * layer call and the stage probe armed, then each layer timed on its own.
  *
  * Every per-layer metric is measured on every workload. The kernel,
  * function and extraction layers run on the workload's own docs; the
  * near-dup layers (banded LSH, connected components) on a near-dup corpus
  * generated from the run's seed, through the q47 path and its checks; the
  * snapshot table path on a slice of about [[TableDocs]] of the workload's
  * docs, with its checks.
  */
object Layers {

  /** The table probe's slice of the workload's docs. */
  val TableDocs = 1000
  /** Kernel layers run on the workload's first chunks, up to this many. */
  val KernelChunks = 60000
  val KernelReps = 3
  /** Tolerance of the check that stage busy time plus driver time add up
    * to the pass wall time: 2% of the wall time plus 20 ms.
    */
  val AccountedShare = 0.02
  val AccountedSlackS = 0.02

  private val MB = 1024.0 * 1024.0

  /** Returns the per-layer metrics and the check violations of the
    * near-dup and table paths; `attempt` counts each operation the traced
    * run attempts.
    */
  def measure(spark: SparkSession, wl: Workload, docs: DataFrame, input: Input, seed: Long,
      probe: StageProbe, untracedS: Double, attempt: () => Unit,
      runDir: Path): (Map[String, (Double, String)], Vector[String]) = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
    val tracer = new Tracer
    val sc = spark.sparkContext

    // --- traced pass of the workload's own path ---
    attempt()
    Bus.drain(sc)
    probe.arm()
    val fromMs = System.currentTimeMillis()
    tracer.span("pass")(wl.pass(spark, docs, Some(tracer)))
    val toMs = System.currentTimeMillis()
    Bus.drain(sc)
    val sw = probe.collect(fromMs, toMs)
    val wall = last(tracer, "pass")

    val driverS = wall - sw.busyInWindowS
    put("trace.pass_s", wall, "s")
    put("trace.untraced_pass_s", untracedS, "s")
    put("trace.overhead_s", wall - untracedS, "s")
    put("stage.busy_s", sw.busyS, "s")
    put("driver.s", driverS, "s")
    put("driver.plan_s", sw.planS, "s")
    put("trace.accounted_share", (sw.busyS + driverS) / wall, "ratio")
    require(math.abs(sw.busyS + driverS - wall) <= AccountedShare * wall + AccountedSlackS,
      f"stage busy ${sw.busyS}%.3f s + driver $driverS%.3f s do not add up to the pass wall $wall%.3f s")
    put("stage.count", sw.stages, "count")
    put("stage.tasks", sw.tasks, "count")
    put("exchange.count", sw.exchanges, "count")
    put("exchange.write_mb", sw.writeMb, "MB")
    put("exchange.read_mb", sw.readMb, "MB")
    put("exchange.spill_mb", sw.spillMb, "MB")
    put("stage.max_task_s", sw.maxTaskS, "s")
    put("stage.median_task_s", sw.medianTaskS, "s")
    put("stage.gc_s", sw.gcS, "s")
    put("stage.task_cpu_s", sw.taskCpuS, "s")
    put("stage.task_run_s", sw.taskRunS, "s")

    // --- each layer on its own, on the workload's docs ---
    tracer.span("probe.kernel")(kernel(input, put))
    tracer.span("probe.functions")(functions(docs, tracer, put))
    tracer.span("probe.extraction")(extraction(spark, docs, tracer, put))

    // --- the q47 path on a near-dup corpus from the same seed, checked ---
    val nearInput = Gen.nearDupCorpus(seed, Sizes.NearDupDocs)
    val nearDir = runDir.resolve("near_dup_input")
    InputIO.write(spark, nearInput, nearDir, Main.InputFiles)
    val near = spark.read.parquet(nearDir.toString)
    attempt()
    tracer.span("probe.near_dup_path")(NearDupPath.run(near, tracer))
    val storage = sc.getRDDStorageInfo
    put("storage.blocks_left", storage.map(_.numCachedPartitions).sum.toDouble, "count")
    put("storage.mem_mb_left", storage.map(_.memSize).sum / MB, "MB")
    tracer.span("probe.near_dup")(nearDup(near, tracer, put))
    attempt()
    val nearViolations = NearDupPath.check(near, nearInput).map("near-dup: " + _)

    // --- the snapshot table path on a slice of the workload's docs, checked ---
    // sliced by Murmur3, not by the xxhash64 the table buckets on: a slice
    // on the same hash and modulus would put every doc in one bucket
    val parts = math.max(1, input.nDocs / TableDocs)
    val slice = docs.filter(pmod(hash(col("doc_id")), lit(parts)) === 0)
    val root = runDir.resolve("table")
    attempt()
    tracer.span("probe.table")(TablePath.run(spark, slice, root, tracer))
    table(spark, root, tracer, put)
    val ids = slice.select("doc_id").collect().iterator.map(_.getString(0)).toSet
    val tableInput = input.copy(spanDocs = input.spanDocs.filter(d => ids(d.docId)))
    val tableViolations = TablePath.check(spark, tableInput, root).map("table: " + _)

    Files.writeString(runDir.resolve("trace.json"), tracer.toJson + "\n")
    (m.toMap, nearViolations ++ tableViolations)
  }

  private def last(t: Tracer, name: String): Double =
    t.spans.reverseIterator.find(_.name == name).map(_.seconds).getOrElse(0.0)

  private def timed(t: Tracer, name: String)(body: => Unit): Double = {
    t.span(name)(body)
    last(t, name)
  }

  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** Kernel layers, single thread, no Spark, on the workload's own chunks:
    * ns per chunk, median of [[KernelReps]] repetitions.
    */
  private def kernel(input: Input, put: (String, Double, String) => Unit): Unit = {
    val raws = input.spanDocs.map(Ref.assemble)
    val docs = mutable.ArrayBuffer.empty[Vector[graft.kernel.Chunk]]
    var n = 0
    val it = raws.iterator
    while (n < KernelChunks && it.hasNext) {
      val c = TextKernel.chunkText(it.next(), Ref.MinChunk)
      docs += c; n += c.size
    }
    val used = raws.take(docs.size)
    val chunks = docs.flatten.toVector
    val filtered = docs.map(TextKernel.filterChrome(_, TextKernel.defaultChromePatterns, Ref.ChromeMax))
    val nChunks = math.max(1, chunks.size).toDouble
    var sink = 0L
    def perChunk(body: => Unit): Double =
      Main.median((1 to KernelReps).map { _ => val t = Main.now; body; (Main.now - t) / nChunks })
    put("kernel.chunk_ns", perChunk(used.foreach(r => sink += TextKernel.chunkSegments(r, Ref.MinChunk).length)), "ns")
    put("kernel.normalize_ns", perChunk(chunks.foreach(c => sink += TextKernel.normalize(c.text).length)), "ns")
    put("kernel.sha1_ns", perChunk(chunks.foreach(c => sink += Hashing.sha1Hex(c.norm).length)), "ns")
    put("kernel.simhash_ns", perChunk(chunks.foreach(c => sink += Hashing.simhash64(c.norm, 5))), "ns")
    put("kernel.dedupe_ns", perChunk(filtered.foreach(f => sink += DedupeKernel.dedupe(f, DedupeConfig()).kept.size)), "ns")
    // window comparisons of the greedy scan, replayed from the kept set
    val cfg = DedupeConfig()
    var compares = 0L
    for (f <- filtered) {
      val kept = DedupeKernel.dedupe(f, cfg).kept.iterator.map(_.id).toSet
      var nKept = 0
      for (c <- DedupeKernel.exactHashDedupe(f)._1) {
        compares += math.min(nKept, cfg.window)
        if (kept(c.id)) nKept += 1
      }
    }
    put("kernel.window_compares", compares / math.max(1, filtered.iterator.map(_.size).sum).toDouble, "count")
    if (sink == 42) System.err.print("") // keeps the loops from being optimized away
  }

  /** NormalizeExpr and SimHash64Expr, one map-only stage each over a cached
    * column of the workload's chunk texts.
    */
  private def functions(docs: DataFrame, t: Tracer, put: (String, Double, String) => Unit): Unit = {
    val col0 = cached(ExtractionJob.chunks(docs).select(col("text"), col("norm")))
    put("functions.normalize_s", timed(t, "functions.normalize")(Workload.noop(col0.select(Exprs.normCol(col("text"))))), "s")
    put("functions.simhash64_s", timed(t, "functions.simhash64")(Workload.noop(col0.select(Exprs.simhash64(col("norm"), 5)))), "s")
    col0.unpersist(blocking = true)
  }

  /** assemble -> chunk -> chrome -> dedupe, each step timed over the cached
    * output of the step before; the reference's dedupe_report counters.
    */
  private def extraction(spark: SparkSession, docs: DataFrame, t: Tracer,
      put: (String, Double, String) => Unit): Unit = {
    val d0 = cached(docs)
    put("ops.assemble_s", timed(t, "ops.assemble")(Workload.noop(Corpus.assemble(d0))), "s")
    val a = cached(Corpus.assemble(d0))
    put("ops.chunk_s", timed(t, "ops.chunk")(Workload.noop(Chunker.chunk(a, col("raw")))), "s")
    val c = cached(Chunker.chunk(a, col("raw")))
    val keep = Exprs.chromeKeep(col("norm"), ExtractionJob.ChromePatterns, Corpus.ChromeMaxLength)
    put("ops.chrome_s", timed(t, "ops.chrome")(Workload.noop(c.filter(keep))), "s")
    val f = cached(c.filter(keep))
    put("ops.dedupe_s", timed(t, "ops.dedupe")(Workload.noop(DedupeOps.perDocDedupe(f, DedupeConfig())(spark).toDF())), "s")
    val r = DedupeOps.perDocDedupe(f, DedupeConfig())(spark).toDF().agg(
      sum(when(col("kept"), 1L).otherwise(0L)),
      sum(when(col("reason") === "exact_duplicate", 1L).otherwise(0L)),
      sum(when(col("reason") === "near_duplicate", 1L).otherwise(0L))).head
    val nChunks = c.count()
    put("ops.chunks", nChunks, "count")
    put("ops.chrome_dropped", nChunks - f.count(), "count")
    put("ops.kept", r.getLong(0), "count")
    put("ops.exact_dups", r.getLong(1), "count")
    put("ops.near_dups", r.getLong(2), "count")
    Seq(f, c, a, d0).foreach(_.unpersist(blocking = true))
  }

  /** sigs -> banded LSH pairs -> connected components -> deduped docs,
    * each step over the cached output of the step before.
    */
  private def nearDup(textDocs: DataFrame, t: Tracer, put: (String, Double, String) => Unit): Unit = {
    val d0 = cached(textDocs)
    val sigsDf = d0.select(col("doc_id"), Exprs.simhash64(Exprs.normCol(col("text")), NearDupPath.K).as("sig"))
    put("ops.sigs_s", timed(t, "ops.sigs")(Workload.noop(sigsDf)), "s")
    val sigs = cached(sigsDf)
    put("ops.lsh_pairs_s", timed(t, "ops.lsh_pairs")(Workload.noop(LshDedup.nearDupPairs(sigs, NearDupPath.Threshold))), "s")
    val pairs = cached(LshDedup.nearDupPairs(sigs, NearDupPath.Threshold))
    // candidates: same-bucket distinct-signature pairs, summed over bands
    val sigOf = sigs.collect().iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distinct = sigOf.values.toVector.distinct
    val candidates = (0 until LshDedup.Bands).iterator.map { band =>
      distinct.groupBy(s => (s >>> (band * LshDedup.BandBits)) & ((1L << LshDedup.BandBits) - 1))
        .valuesIterator.map(g => g.size.toLong * (g.size - 1) / 2).sum
    }.sum
    val pairRows = pairs.collect()
    val sigPairs = pairRows.iterator.map(r => (sigOf(r.getLong(0)), sigOf(r.getLong(1))))
      .filter(p => p._1 != p._2).map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet.size
    put("ops.lsh_candidates", candidates.toDouble, "count")
    put("ops.lsh_pairs", pairRows.length.toDouble, "count")
    put("ops.lsh_yield", if (candidates == 0) 0.0 else sigPairs.toDouble / candidates, "ratio")
    val rounds = mutable.ArrayBuffer.empty[LshDedup.CcRoundStat]
    var winners: DataFrame = null
    put("ops.cc_s", timed(t, "ops.cc") {
      winners = LshDedup.clusterWinners(pairs, stats = Some(rounds))
      Workload.noop(winners)
    }, "s")
    put("ops.cc_rounds", rounds.size.toDouble, "count")
    put("ops.cc_edges", rounds.iterator.map(_.processedEdges).sum.toDouble, "count")
    put("ops.deduped_docs_s", timed(t, "ops.deduped_docs")(Workload.noop(LshDedup.dedupedDocs(d0, winners))), "s")
    put("ops.survivors", LshDedup.dedupedDocs(d0, winners).count().toDouble, "count")
    Seq(pairs, sigs, d0).foreach(_.unpersist(blocking = true))
  }

  /** The snapshot table's layers: the first run, resume and sinks spans, a
    * timed read-back, the bytes of the committed table plus the sinks, and
    * the table's own metrics.
    */
  private def table(spark: SparkSession, root: Path, t: Tracer, put: (String, Double, String) => Unit): Unit = {
    implicit val s: SparkSession = spark
    put("table.first_run_s", last(t, "table.first_run"), "s")
    put("table.resume_s", last(t, "table.resume"), "s")
    put("jobs.sinks_s", last(t, "jobs.sinks"), "s")
    put("table.read_s", timed(t, "table.read")(Workload.noop(SnapshotTable.read(root.toString))), "s")
    def count(dir: Path, suffix: String): Double =
      if (!Files.exists(dir)) 0.0
      else Files.walk(dir).filter(p => p.getFileName.toString.endsWith(suffix)).count().toDouble
    put("table.files", count(root.resolve("data"), ".parquet"), "count")
    put("table.mb", InputIO.bytesUnder(root) / MB, "MB")
    put("table.snapshots", count(root.resolve("_snapshots"), ".json"), "count")
    val b = SnapshotTable.metrics(root.toString).agg(max("wall_ms"), sum("wall_ms")).head
    put("table.max_bucket_ms", b.getLong(0).toDouble, "ms")
    put("table.sum_bucket_ms", b.getLong(1).toDouble, "ms")
  }
}
