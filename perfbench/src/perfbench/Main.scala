package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Builds its input from the seed, times passes of the workload's path at
  * local[cores] and prints one JSON object as the last line of stdout:
  * end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
  * The outputs are checked outside the timed region; a failed check marks
  * the run incorrect and the process exits with status 1.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workload.Names.contains(w), s"unknown workload $w; one of ${Workload.Names.mkString(", ")}")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toDouble, trace == "1",
      Paths.get(m.getOrElse("out", ".bench_runs")))
  }

  /** Setups per run; `setup_s` reports their median. */
  val Setups = 3
  /** Fewest warm passes per run, whatever `--seconds` says. */
  val MinWarm = 3
  /** Untimed passes between the cold pass and the warm passes: the JIT is
    * still compiling planner and kernel code for several passes (on
    * near-dup-corpus each of the first five passes ran 5-15% faster than the
    * one before).
    */
  val WarmUp = 3
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Input files per table: twice the cores, so the scan has a task per file. */
  val InputFiles: Int = 2 * Cores

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime

  /** Machine-wide CPU steal so far, in CPU-seconds (USER_HZ = 100); -1 if
    * /proc/stat cannot be read.
    */
  def stealSeconds(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (line(0) == "cpu" && line.length > 8) line(8).toLong / 100.0 else -1.0
    } catch { case _: Exception => -1.0 }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** The benchmark's session; Spark's scratch files stay under `dir`. */
  def session(dir: Path, cores: Int = Cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parse(argv)
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val code =
      try run(args)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val steal0 = stealSeconds()
    val runDir = a.out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${ProcessHandle.current().pid()}")
    deleteTree(runDir)
    Files.createDirectories(runDir)
    val wl = Workload(a.workload)

    val t0 = now
    val spark = session(runDir)
    val probe = new StageProbe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val sessionS = secs(t0)
    try {
      // set-up: generate, write and load the input, several times
      var input: Input = null
      var docs: DataFrame = null
      var inputDir: Path = null
      val setupS = (0 until Setups).map { k =>
        if (inputDir != null) deleteTree(inputDir)
        inputDir = runDir.resolve(s"input_$k")
        val t = now
        input = Gen.generate(a.workload, a.seed)
        InputIO.write(spark, input, inputDir, InputFiles)
        docs = spark.read.parquet(inputDir.toString)
        require(docs.count() == input.nDocs, "loaded row count differs from the generated docs")
        secs(t)
      }
      val nDocs = input.nDocs

      var attempted = 0
      def timedPass(): Double = {
        attempted += 1
        val t = now
        wl.pass(spark, docs, None)
        secs(t)
      }

      val cold = timedPass()
      (1 to WarmUp).foreach(_ => timedPass())
      val warm = Vector.newBuilder[Double]
      val warmCpuS = Vector.newBuilder[Double]
      val heapMb = Vector.newBuilder[Double]
      var nWarm = 0
      val window = now
      while (nWarm < MinWarm || secs(window) < a.seconds) {
        val c = cpuNs
        warm += timedPass()
        warmCpuS += (cpuNs - c) / 1e9
        nWarm += 1
        // the context cleaner frees unreferenced cached blocks after a GC;
        // the second GC collects what it released
        System.gc()
        Thread.sleep(200)
        System.gc()
        heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      }
      val warmS = warm.result()

      val (layer, layerViolations) =
        if (!a.trace) (Map.empty[String, (Double, String)], Vector.empty[String])
        else Layers.measure(spark, wl, docs, input, a.seed, probe, median(warmS), () => attempted += 1, runDir)

      // independent checks, outside the timed region
      attempted += 1
      val tCheck = now
      val violations = layerViolations ++ wl.check(spark, docs, input)
      val checkS = secs(tCheck)
      violations.foreach(v => System.err.println(s"CHECK FAILED: $v"))
      val failed = if (violations.isEmpty) 0 else 1

      val metrics: Seq[(String, Double, String)] =
        if (a.trace) (layer + ("cold_pass_s" -> (cold, "s"))).toSeq.sortBy(_._1).map { case (k, (v, u)) => (k, v, u) }
        else Seq(
          ("setup_s", sessionS + median(setupS), "s"),
          ("docs_per_s", nDocs / median(warmS), "docs/s"),
          ("cpu_us_per_doc", median(warmCpuS.result()) * 1e6 / nDocs, "us/doc"),
          ("peak_heap_mb", heapMb.result().max, "MB"))

      val steal = if (steal0 < 0) -1.0 else stealSeconds() - steal0
      val context = Seq(
        "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
        "trace" -> a.trace.toString, "docs" -> nDocs.toString,
        "warm_passes" -> nWarm.toString, "warm_pass_s" -> warmS.mkString("[", ",", "]"),
        "cold_pass_s" -> num(cold), "session_s" -> num(sessionS), "setup_each_s" -> setupS.mkString("[", ",", "]"),
        "check_s" -> num(checkS), "run_s" -> num(secs(t0)),
        "steal_cpu_s" -> f"$steal%.2f", "cores" -> Cores.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "jdk" -> s""""${System.getProperty("java.version")}"""",
        "spark" -> s""""${spark.version}"""",
        "commit" -> s""""${sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")}"""")
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val metricJson = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString("{", ",", "}")
      val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metricJson}"""
      Files.writeString(a.out.resolve(runDir.getFileName.toString + ".json"),
        s"""{"context":$context,"result":$result}""" + "\n")
      println(s"""{"context":$context}""")
      println(result)
      if (failed == 0) 0 else 1
    } finally {
      spark.stop()
      // keep only the trace of a traced run
      if (a.trace) Files.list(runDir).filter(_.getFileName.toString != "trace.json").forEach(p => deleteTree(p))
      else deleteTree(runDir)
    }
  }

  /** A JSON number with all its digits; non-finite values become -1. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "-1" else v.toString
}
