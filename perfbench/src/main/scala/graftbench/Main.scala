package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload run shares with its workload: the session, the
  * tracer, the seeded inputs' source and the run's own directories.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
    fixture: Path, work: Path) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A run's result: operations attempted and failed, the end-to-end
  * metrics (untraced run) or layer metrics (traced run), and report
  * lines that name every measured quantity with its unit.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val report = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()

  def fail(why: String): Unit = { failed += 1; notes += s"FAILED: $why" }

  def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  /** Per-span layer metrics: `<name>_ms` plus `<name>.jobs`,
    * `.driver_gap_ms`, `.shuffle_bytes`, `.spill_bytes` and `.task_skew`.
    */
  def spanLayers(tracer: Tracer, name: String): Unit = {
    val spans = tracer.named(name)
    val s = tracer.stats(spans)
    layer(s"${name}_ms", spans.map(_.ms).sum, "ms")
    layer(s"$name.jobs", s.jobs.toDouble, "count")
    layer(s"$name.driver_gap_ms", s.driverGapMs, "ms")
    layer(s"$name.shuffle_bytes", s.shuffleBytes.toDouble, "bytes")
    layer(s"$name.spill_bytes", s.spillBytes.toDouble, "bytes")
    layer(s"$name.task_skew", s.taskSkew, "ratio")
  }

  /** Scheduler counters over `spans`, normalised by `ops` operations. */
  def sparkLayers(tracer: Tracer, spans: Seq[Tracer.Span], ops: Int, cycles: Int): Unit = {
    val s = tracer.stats(spans)
    layer("spark.jobs_per_op", s.jobs.toDouble / ops, "count")
    layer("spark.tasks_per_op", s.tasks.toDouble / ops, "count")
    layer("spark.empty_task_frac", if (s.tasks == 0) 0.0 else s.emptyTasks.toDouble / s.tasks, "ratio")
    layer("spark.driver_gap_ms", s.driverGapMs / cycles, "ms")
    layer("spark.shuffle_bytes", s.shuffleBytes.toDouble / cycles, "bytes")
    layer("spark.spill_bytes", s.spillBytes.toDouble / cycles, "bytes")
    layer("spark.task_skew", s.taskSkew, "ratio")
    layer("spark.task_failures", s.taskFailures.toDouble, "count")
  }

  private def metricsJson(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(env: Seq[(String, String)]): String =
    s"""{"attempted": $attempted, "failed": $failed, "e2e": ${metricsJson(e2e)}, """ +
      s""""layers": ${metricsJson(layers)}, "report": ${metricsJson(report)}, """ +
      s""""notes": ${notes.map(str).mkString("[", ", ", "]")}, """ +
      s""""env": ${env.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")}}"""
}

/** Runs one workload in a fresh session and writes its [[Outcome]] as
  * JSON. Usage (run.py builds the arguments):
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --fixture DIR --work DIR --out FILE
  */
object Main {
  val master = "local[4]"
  val shufflePartitions = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val spark = graft.core.Engine.session(master = master,
      shufflePartitions = shufflePartitions, appName = "graftbench",
      extra = Map(
        "spark.local.dir" -> work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, opts("trace") == "1")
    val ctx = Ctx(spark, tracer, opts("seed").toLong, opts("seconds").toDouble,
      Paths.get(opts("fixture")).toAbsolutePath, work)
    val outcome = opts("workload") match {
      case "sql_contract" => SqlContract.run(ctx)
      case "release_serve" => ReleaseServe.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    val retained = Retained.mb(spark)
    outcome.report("retained_mb") = (retained, "MB")
    outcome.report("failed_frac") = (outcome.failed.toDouble / math.max(1L, outcome.attempted), "ratio")
    if (tracer.enabled) {
      outcome.layer("spark.retained_mb", retained, "MB")
      outcome.layer("spark.blocks_stored", tracer.rddBlocksStored.toDouble, "count")
      outcome.layer("trace.listener_ms", tracer.listenerMs, "ms")
    }
    tracer.dump(work.resolve("spans.jsonl"), s"${opts("workload")}-${ctx.seed}")
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> master,
      "shuffle_partitions" -> shufflePartitions.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "fixture" -> ctx.fixture.getFileName.toString)
    Files.write(Paths.get(opts("out")), outcome.json(env).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Block storage the session still holds: persisted and locally
  * checkpointed RDD blocks (memory + disk) plus any reliable checkpoint
  * files, measured after a GC has let the context cleaner release what
  * nothing references any more.
  */
object Retained {
  def mb(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
    val blocks = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val checkpoints = sc.getCheckpointDir.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.getOrElse(0L)
    (blocks + checkpoints) / 1e6
  }
}
