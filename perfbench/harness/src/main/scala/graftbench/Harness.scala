package graftbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.observability.Observability
import graft.pipeline.{Config, ConfigRuntime, Posture, SeriesManifest}
import graft.sources.Runs

/** One benchmark process: a `local[N]` SparkSession, the workload's
  * untimed warm-up repetitions, then timed repetitions until the time
  * budget is spent. Everything goes through graft's public entry points;
  * the harness sets no `graft.*` conf, so every driver gate decides from
  * its input. Writes `result.json` into the work dir; `run.py` turns it
  * into metrics and checks the outputs.
  *
  * {{{
  *   Harness --mode oracle-sql --out <file> --heads <file>
  *   Harness --mode run --workload <ts_train|corpus_curate|head_sweep>
  *           --data <dir> --work <dir> --project <yaml> --cores <n>
  *           --seconds <s> --warmup <n> --min-reps <n> --trace <0|1|2>
  *           [--heads <file> --check-heads <file>] [--tokenize-project <yaml>]
  *           [--warm-project <yaml> --warm-data <dir>]
  * }}}
  */
object Harness {

  private val NullOut = new PrintStream(OutputStream.nullOutputStream())

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map {
      case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    a("mode") match {
      case "oracle-sql" => oracleSql(a)
      case "run"        => run(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def readLines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  // ------------------------------------------------------------ references

  private def oracleSql(a: Map[String, String]): Unit = {
    import graft.queries.PerfbenchOracle
    val heads = readLines(a("heads"))
    val oracle = graft.SparkEntry.oracleSql
    val modules = PerfbenchOracle.headModules
    val missing = heads.filterNot(h => oracle.contains(h) && modules.contains(h))
    require(missing.isEmpty, s"heads without a query or oracle twin: $missing")
    val headsJson = heads.map(h =>
      s"${Json.str(h)}: {\"module\": ${Json.str(modules(h))}, \"sql\": ${Json.str(oracle(h))}}")
      .mkString("{", ",\n", "}")
    val json =
      s"""{"ts_train": ${Json.str(PerfbenchOracle.tsTrainSql)},
         |"corpus_curate": ${Json.str(PerfbenchOracle.corpusCurateSql)},
         |"corpus_edges": ${Json.str(PerfbenchOracle.corpusEdgesSql)},
         |"heads": $headsJson}""".stripMargin
    Files.writeString(Paths.get(a("out")), json)
  }

  // ------------------------------------------------------------------ runs

  /** One timed repetition as the harness records it. */
  final case class Rep(index: Int, traced: Boolean, startMs: Long,
                       wallS: Double, cpuS: Double, gcS: Double,
                       heads: Seq[(String, Double, Int)], postureParts: Int,
                       sinkBytes: Long, sinkFiles: Long, rootSpan: Int)

  private def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  private def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  private def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** A workload = warm-up + timed repetitions of one job. */
  private trait Workload {
    /** One repetition; `tr` is the tracer when this repetition is traced. */
    def once(rep: Int, tr: Option[Tracer]): (Seq[(String, Double, Int)], Int, Path)
    /** Untimed warm-up repetition `i` (0-based). */
    def warm(i: Int): Unit = once(-1 - i, None)
    /** Untimed output dump for the correctness check. */
    def dumpOutputs(lastOut: Path): Unit
  }

  private def run(a: Map[String, String]): Unit = {
    val cores = a("cores").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val dataDir = a("data")
    Files.createDirectories(work.resolve("tmp"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // 0: untraced; 1: untraced and traced repetitions alternate;
      // 2: every repetition traced
      val traceMode = a.getOrElse("trace", "0").toInt
      val wl: Workload = a("workload") match {
        case "ts_train" | "corpus_curate" =>
          new ProjectWorkload(spark, a("project"), dataDir, work,
            manifest = a("workload") == "ts_train",
            a.get("warm-project").map(_ -> a("warm-data")))
        case "head_sweep" =>
          new HeadSweep(spark, readLines(a("heads")),
            readLines(a("check-heads")), dataDir, work, cores)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val tracer = new Tracer(spark)
      val warmup = a("warmup").toInt
      (0 until warmup).foreach(wl.warm)
      val budgetNs = (a("seconds").toDouble * 1e9).toLong
      val minReps = a("min-reps").toInt
      val reps = ArrayBuffer.empty[Rep]
      val t0 = System.nanoTime()
      var lastOut: Path = null
      var i = 0
      while (i < minReps || System.nanoTime() - t0 < budgetNs) {
        // traced runs alternate untraced/traced repetitions, so the
        // overhead ratio compares neighbours, not early vs late ones
        val tracedRep = traceMode == 2 || (traceMode == 1 && i % 2 == 1)
        val startMs = System.currentTimeMillis()
        val (c0, g0, w0) = (cpuNanos(), gcMillis(), System.nanoTime())
        val root = if (tracedRep) tracer.spans.size else -1
        if (tracedRep) tracer.attach()
        val (heads, parts, out) =
          try wl.once(i, if (tracedRep) Some(tracer) else None)
          finally if (tracedRep) tracer.detach()
        val wall = (System.nanoTime() - w0) / 1e9
        val (bytes, files) = if (out == null) (0L, 0L) else dirStats(out)
        reps += Rep(i, tracedRep, startMs, wall, (cpuNanos() - c0) / 1e9,
          (gcMillis() - g0) / 1e3, heads, parts, bytes, files, root)
        lastOut = out
        i += 1
      }
      val hwm = vmHwmKb()
      wl.dumpOutputs(lastOut)
      val defect = a.get("tokenize-project").map(p =>
        tokenizeProbe(spark, p, dataDir, work))
      val result = Json.obj(
        "vm_hwm_kb" -> hwm.toString,
        "tokenize_error" -> defect.map(d => d.map(Json.str).getOrElse("null")).getOrElse("null"),
        "tokenize_attempted" -> defect.isDefined.toString,
        "reps" -> reps.map(repJson).mkString("[", ",\n", "]"),
        "spans" -> tracer.spansJson)
      Files.writeString(work.resolve("result.json"), result)
    } finally spark.stop()
  }

  private def repJson(r: Rep): String = Json.obj(
    "index" -> r.index.toString, "traced" -> r.traced.toString,
    "start_ms" -> r.startMs.toString, "wall_s" -> r.wallS.toString,
    "cpu_s" -> r.cpuS.toString, "gc_s" -> r.gcS.toString,
    "posture_partitions" -> r.postureParts.toString,
    "sink_bytes" -> r.sinkBytes.toString, "sink_files" -> r.sinkFiles.toString,
    "root_span" -> r.rootSpan.toString,
    "heads" -> r.heads.map { case (h, s, p) => s"[${Json.str(h)}, $s, $p]" }
      .mkString("[", ",", "]"))

  /** The documented `filter → tokenize` corpus journey, run once per
    * process outside the timed region. Returns the failure message, or
    * None when the run succeeds.
    */
  private def tokenizeProbe(spark: SparkSession, yaml: String, dataDir: String,
                            work: Path): Option[String] = {
    val serve = work.resolve("serve_tokenize")
    deleteTree(serve)
    try {
      graft.Cli.materialize(spark, yaml, dataDir, serve.toString, out = NullOut)
      None
    } catch {
      case e: Throwable =>
        val msg = String.valueOf(e.getMessage).linesIterator.take(1).mkString
        System.err.println(s"[perfbench] tokenize journey failed: $msg")
        Some(msg)
    }
  }

  // -------------------------------------------------------- project runs

  /** `Cli.materialize` of a YAML project into a fresh serve root. The
    * traced form makes the same public calls in the same order, each in
    * its own span: parse → plan → posture → write → manifest.
    */
  private final class ProjectWorkload(spark: SparkSession, yaml: String,
                                      dataDir: String, work: Path,
                                      manifest: Boolean,
                                      warmInput: Option[(String, String)])
      extends Workload {
    private def serveRoot(rep: Int) = work.resolve(s"serve_$rep")

    /** The first warm-up runs the same project over a small input of the
      * same shape (JIT and codegen warm-up at a fraction of the cost); the
      * rest run the real input, so one-time artifact fits land there.
      */
    override def warm(i: Int): Unit = warmInput match {
      case Some((wYaml, wData)) if i == 0 =>
        materialize(-1, wYaml, wData, None)
      case _ => once(-1 - i, None)
    }

    def once(rep: Int, tr: Option[Tracer]): (Seq[(String, Double, Int)], Int, Path) =
      materialize(rep, yaml, dataDir, tr)

    private def materialize(rep: Int, yaml: String, dataDir: String,
                            tr: Option[Tracer]): (Seq[(String, Double, Int)], Int, Path) = {
      // the previous repetition's serve root goes before the clock starts
      Files.list(work).iterator().asScala
        .filter(_.getFileName.toString.startsWith("serve_")).foreach(deleteTree)
      val root = serveRoot(rep)
      tr match {
        case None =>
          val p = graft.Cli.materialize(spark, yaml, dataDir, root.toString,
            out = NullOut)
          (Nil, -1, p.datasetDir)
        case Some(t) =>
          var parts = -1
          var dsDir: Path = null
          t.span("job") {
            val project = t.span("parse")(
              Config.parseProject(Files.readString(Paths.get(yaml))))
            val obs = Observability.start(spark, project.observability, NullOut)
            val p = Runs.runPaths(root.toString, Runs.makeRunId())
            try {
              val df = t.span("plan")(
                if (project.dataset.nonEmpty)
                  ConfigRuntime.dataset(spark, dataDir, project)
                else ConfigRuntime.corpus(spark, dataDir, project))
              Runs.startRun(p)
              obs.bindRunDir(p.runRoot)
              parts = t.span("posture")(Posture.applyTo(df,
                spark.sparkContext.defaultParallelism, s"write:${p.datasetDir}"))
              t.span("exec")(df.write.mode("overwrite").parquet(p.datasetDir.toString))
              if (manifest) t.span("manifest")(SeriesManifest.write(p.runRoot,
                SeriesManifest.build(spark, p, project.dataset.get)))
              Runs.finishRun(p, "success")
            } finally Observability.finish(spark, obs,
              Some(p.runRoot.resolve("metrics.json")))
            dsDir = p.datasetDir
          }
          (Nil, parts, dsDir)
      }
    }

    def dumpOutputs(lastOut: Path): Unit = {
      // the last timed repetition's dataset IS the output under check
      val dst = work.resolve("output")
      deleteTree(dst)
      Files.move(lastOut, dst)
    }
  }

  // ----------------------------------------------------------- head sweep

  /** Every listed head in the given order: head fn (plan build) → per-plan
    * posture → noop-sink write, as `graft.Bench` runs a head. The ambient
    * initial-partition knob is reset to core count before each head so a
    * head's plan-build jobs do not inherit the previous head's posture.
    */
  private final class HeadSweep(spark: SparkSession, heads: Seq[String],
                                checked: Seq[String], sfDir: String,
                                work: Path, cores: Int)
      extends Workload {
    private val fns = graft.SparkEntry.queries
    private val initialKey =
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

    def once(rep: Int, tr: Option[Tracer]): (Seq[(String, Double, Int)], Int, Path) =
      (heads.map(h => sweepHead(h, tr, None)), -1, null)

    private def sweepHead(h: String, tr: Option[Tracer],
                          dump: Option[Path]): (String, Double, Int) = {
      val t0 = System.nanoTime()
      spark.conf.set(initialKey, cores.toString)
      val parts = tr match {
        case None =>
          val df = fns(h)(spark, sfDir)
          val p = Posture.applyTo(df, cores, h)
          dump match {
            case Some(dir) => df.write.parquet(dir.toString)
            case None => df.write.format("noop").mode("overwrite").save()
          }
          p
        case Some(t) =>
          t.span(s"head:$h") {
            val df = t.span("plan")(fns(h)(spark, sfDir))
            val p = t.span("posture")(Posture.applyTo(df, cores, h))
            t.span("exec")(df.write.format("noop").mode("overwrite").save())
            p
          }
      }
      (h, (System.nanoTime() - t0) / 1e9, parts)
    }

    /** After the timed passes, in the same session: the checked heads
      * run once more and write to parquet instead of the noop sink, so a
      * defect that shows only on warm, repeated calls fails the check.
      */
    def dumpOutputs(lastOut: Path): Unit = checked.foreach(h =>
      sweepHead(h, None, Some(work.resolve("output").resolve(h))))
  }
}

/** Minimal JSON text helpers (the harness writes, Python reads). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
