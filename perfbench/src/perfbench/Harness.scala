package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark harness: one client issues one graft operation at
  * a time against `local[nproc]`, until `--seconds` have passed.
  *
  *   Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --input <dir> --work <dir> --result <file> --nproc <n>
  *           [--inject-fail <i,j,...>]
  *
  * Set-up (session creation, input load, warm-up) is timed from JVM start
  * to the first timed operation. A failed operation (it throws, or its
  * output check fails) is recorded as failed and its time is never used as
  * a latency. The result file holds every operation's record;
  * perfbench/run.py turns it into metrics. With `--trace 1`, every other
  * operation (alternating per cycle position and pass) is traced: spans
  * around each layer call and a Spark listener give per-layer numbers, and
  * the others run untraced for the tracing overhead ratio. */
object Harness {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val nproc = args("nproc").toInt
    val inject = args.get("inject-fail").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toInt).toSet
    val work = args("work")
    new File(work).mkdirs()
    val w = Workload(workload)

    // ---- set-up -----------------------------------------------------------
    val spark = session(nproc, work)
    val tracer = new Tracer(spark.sparkContext, nproc, trace)
    val c = Ctx(spark, args("input"), work, seed, tracer)
    w.setup(c)
    Workload.dropCaches(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ---- timed closed loop ----------------------------------------------
    val ops = Seq.newBuilder[Map[String, Any]]
    val layer = Seq.newBuilder[Map[String, Double]]
    val loopStart = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (i == 0 || elapsed < seconds || i % w.cycle != 0) {
      val traced = trace && ((i % w.cycle) + (i / w.cycle)) % 2 == 0
      tracer.beginOp(i, traced)
      val t0 = System.nanoTime()
      val error = try {
        if (inject(i)) throw new IllegalStateException(s"injected failure in operation $i")
        tracer.span("op")(w.op(c, i))
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      if (traced)
        layer += tracer.endOp(dt) - "op_s" ++ blocks(spark) ++
          (if (error.isEmpty) w.traceMetrics(c, i, dt) else Map.empty)
      val checked = error.orElse(
        try w.checkOp(c, i) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") })
      Workload.dropCaches(spark)
      ops += Map("i" -> i, "s" -> dt, "ok" -> checked.isEmpty, "traced" -> traced,
        "error" -> checked.orNull)
      i += 1
    }
    val loopS = elapsed

    // ---- checks and run-level numbers ------------------------------------
    val fin = try w.finish(c)
      catch { case e: Throwable => Workload.Finish(Some(s"finish threw ${e.getMessage}"), Map.empty, Map.empty) }
    val runMetrics = fin.metrics ++ (if (trace) Map("sources.noop_fixed_s" -> noopFixed(spark)) else Map.empty)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "setup_s" -> setupS, "loop_s" -> loopS, "cycle" -> w.cycle,
      "rows_per_op" -> w.rowsPerOp,
      "fail_all" -> fin.failAll.orNull, "ops" -> ops.result(),
      "layer" -> layer.result(), "run_metrics" -> runMetrics,
      "results" -> fin.results, "peak_rss_mb" -> peakRssMb)
    Files.write(Paths.get(args("result")), Json.value(result).getBytes("UTF-8"))
    if (trace)
      Files.write(Paths.get(args("result") + ".spans.jsonl"),
        tracer.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
    tracer.close()
    spark.stop()
  }

  private def session(nproc: Int, work: String): SparkSession = {
    val s = graft.Graft.sessionBuilder(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      // Spark's generated-code cache holds 100 classes by default, fewer
      // than one pass of either workload generates. Its LRU then recompiles
      // classes on every operation: always on registry_mix, and on
      // report_lineitem in some JVMs and not in others, which made whole
      // runs 1.5-2x slower than the rest. Sized to hold every class,
      // set-up compiles them once; spark.codegen_compiles counts what an
      // operation still compiles.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Blocks an operation left behind, read before they are released. */
  private def blocks(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    Map("blocks.left_after_op" -> sc.getPersistentRDDs.size.toDouble,
      "blocks.storage_bytes_after_op" ->
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble)
  }

  /** The noop sink's fixed cost: median of a one-row query written to it. */
  private def noopFixed(spark: SparkSession): Double = {
    val xs = (0 until 15).map { _ =>
      val t0 = System.nanoTime()
      Workload.noop(spark.range(1).toDF())
      (System.nanoTime() - t0) / 1e9
    }
    Workload.median(xs.drop(3))
  }

  private def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
