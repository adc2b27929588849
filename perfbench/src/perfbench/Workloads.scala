package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.jobs.{ExtractionJob, SubmitMain}
import graft.ops.{LshDedup, Similarity}
import graft.table.SnapshotTable

/** Writes a generated input as parquet. */
object InputIO {

  val SpanSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType)))))))

  val TextSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))

  /** One parquet file per slice: the slices are fixed by the input order,
    * so the files do not depend on a shuffle.
    */
  def write(spark: SparkSession, input: Input, dir: Path, nFiles: Int): Unit = {
    val (rows, schema) =
      if (input.spanDocs.nonEmpty)
        (input.spanDocs.map(d => Row(d.docId, d.spans.map(s => Row(s.kind, s.text, s.mediaRef, s.offset)))),
          SpanSchema)
      else (input.textDocs.map(d => Row(d.docId, d.text)), TextSchema)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, nFiles), schema)
      .write.parquet(dir.toString)
  }

  def parquetFiles(dir: Path): Vector[Path] = Files.list(dir).toArray.toVector
    .map(_.asInstanceOf[Path]).filter(_.getFileName.toString.endsWith(".parquet"))
    .sortBy(_.getFileName.toString)

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum
}

/** One benchmark workload: its timed pass and the check of its output. */
trait Workload {
  def name: String
  /** One pass of the workload's path over the loaded input, to a no-op sink. */
  def pass(spark: SparkSession, docs: DataFrame, tracer: Option[Tracer]): Unit
  /** Runs the workload's path again, collects its output and checks it. */
  def check(spark: SparkSession, docs: DataFrame, input: Input): Vector[String]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "small-docs" | "long-docs" => new Extraction(name)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val Names: Seq[String] = Seq("small-docs", "long-docs")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  private[perfbench] def collectSpans(df: DataFrame): Map[String, Seq[OutSpan]] =
    df.select("doc_id", "kind", "text", "media_ref", "order").collect().toSeq
      .groupMap(_.getString(0))(r => OutSpan(r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
}

/** `small-docs` and `long-docs`: `ExtractionJob.outputSpans` to a no-op sink. */
final class Extraction(val name: String) extends Workload {
  def pass(spark: SparkSession, docs: DataFrame, tracer: Option[Tracer]): Unit = {
    val out = Workload.span(tracer, "jobs.outputSpans")(ExtractionJob.outputSpans(docs)(spark))
    Workload.span(tracer, "sink.noop")(Workload.noop(out))
  }

  def check(spark: SparkSession, docs: DataFrame, input: Input): Vector[String] = {
    val out = Workload.collectSpans(ExtractionJob.outputSpans(docs)(spark))
    val audit = ExtractionJob.dedup(docs)(spark).groupBy("doc_id")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)), sum(when(col("kept"), 0L).otherwise(1L)))
      .collect().iterator.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    Checks.extraction(input, out, Some(audit))
  }
}

/** The q47 path over a near-dup corpus: simhashDocPairs -> clusterWinners
  * -> dedupedDocs, to a no-op sink. The traced run drives it on every
  * workload (see [[Layers]]).
  */
object NearDupPath {
  val K = 5
  val Threshold = 6

  def run(docs: DataFrame, tracer: Tracer): Unit = {
    val pairs = tracer.span("ops.simhashDocPairs")(Similarity.simhashDocPairs(docs, K, Threshold))
    val winners = tracer.span("ops.clusterWinners")(LshDedup.clusterWinners(pairs))
    val out = tracer.span("ops.dedupedDocs")(LshDedup.dedupedDocs(docs, winners))
    tracer.span("sink.noop")(Workload.noop(out))
  }

  /** Pairs, winners and survivors of the path, checked against `input`. */
  def check(docs: DataFrame, input: Input): Vector[String] = {
    val pairsDf = Similarity.simhashDocPairs(docs, K, Threshold).cache()
    val pairs = pairsDf.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val winnersDf = LshDedup.clusterWinners(pairsDf).cache()
    val winners = winnersDf.collect().iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = LshDedup.dedupedDocs(docs, winnersDf).select("doc_id", "n_members")
      .collect().iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(winnersDf, pairsDf).foreach(_.unpersist(blocking = true))
    Checks.nearDup(input, pairs, winners, survivors)
  }
}

/** The snapshot-table path: `SnapshotTable.runResumable(ExtractionJob.dedupWith)`
  * stopped after half the buckets, resumed, then `SubmitMain.writeSinks`.
  * The traced run drives it on every workload (see [[Layers]]).
  */
object TablePath {
  val Buckets = 8

  def run(spark: SparkSession, docs: DataFrame, root: Path, tracer: Tracer): Unit = {
    implicit val s: SparkSession = spark
    val cfg = ExtractionJob.PipelineConfig()
    val r = root.toString
    tracer.span("table.first_run")(
      SnapshotTable.runResumable(docs, d => ExtractionJob.dedupWith(d, cfg), r, Buckets, Buckets / 2))
    tracer.span("table.resume")(
      SnapshotTable.runResumable(docs, d => ExtractionJob.dedupWith(d, cfg), r, Buckets))
    tracer.span("jobs.sinks")(SubmitMain.writeSinks(SubmitMain.Args(out = r, pipeline = cfg)))
  }

  /** Read-back spans, bucket coverage and lineage of the table at `root`,
    * written from `input`.
    */
  def check(spark: SparkSession, input: Input, root: Path): Vector[String] = {
    implicit val s: SparkSession = spark
    val r = root.toString
    val out = Workload.collectSpans(spark.read.parquet(s"$r/output_spans"))
    val lineageDocs = SnapshotTable.metrics(r).agg(sum("n_docs")).head.getLong(0)
    Checks.snapshot(input, out, SnapshotTable.completedBuckets(r), Buckets, lineageDocs)
  }
}
