package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}

import graft.operators.Materialize.releaseAll

/** Dev-only profiling main for the optimization rounds (round 17+).
  *
  * For each named query (args; or all when none given) it mirrors the
  * Bench methodology (warmup pass, best-of-2 timed `.count()`, caches
  * dropped between passes) while a listener counts jobs / stages /
  * tasks and sums task + shuffle metrics, and optionally dumps
  * `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt. One
  * more, untimed pass materializes the query's own plan (not the
  * pruned count plan) and reports `codegenMisses`: its hash and sort
  * aggregates that run outside whole-stage codegen ([[aggregates]]).
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * OPTPROBE_PLAN_SUFFIX (e.g. "before"/"after"; empty = no plan dump),
  * OPTPROBE_PLAN_DIR (default plans/r17), OPTPROBE_PASSES (default 2).
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planSuffix = sys.env.getOrElse("OPTPROBE_PLAN_SUFFIX", "")
    val planDir = sys.env.getOrElse("OPTPROBE_PLAN_DIR", "plans/r17")
    val passes = sys.env.getOrElse("OPTPROBE_PASSES", "2").toInt
    val spark = Kit.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    graft.Bench.quietAuditedWindowWarn()
    graft.Bench.quietAuditedCheckpointWarn()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    @volatile var inputB = 0L
    @volatile var cpuNs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          inputB += m.inputMetrics.bytesRead
          cpuNs += m.executorCpuTime
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def resetCounters(): Unit = synchronized {
      jobs.set(0); stages.set(0); tasks.set(0)
      shuffleReadB = 0L; shuffleWriteB = 0L; inputB = 0L; cpuNs = 0L
    }

    val all = graft.SparkEntry.queries
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq else all.keys.toSeq.sorted
    names.foreach { name =>
      all.get(name) match {
        case None => println(s"""{"probe":"opt","name":"$name","err":"unknown query"}""")
        case Some(fn) =>
          try {
            // warmup (codegen+planning, matches Bench)
            fn(spark, sfDir).count()
            releaseAll(spark)
            var best = Double.MaxValue
            var bestLine = ""
            (1 to passes).foreach { _ =>
              // let prior pass's listener events drain (listenerBus is
              // private[spark]; a short sleep suffices at this scale)
              Thread.sleep(200)
              resetCounters()
              val t0 = System.nanoTime()
              val n = fn(spark, sfDir).count()
              val dt = (System.nanoTime() - t0) / 1e9
              Thread.sleep(200)
              val line = f"""{"probe":"opt","name":"$name","sec":$dt%.3f,"rows":$n,"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"cpuSec":${cpuNs / 1e9}%.2f,"inputMB":${inputB / 1e6}%.1f,"shufReadMB":${shuffleReadB / 1e6}%.2f,"shufWriteMB":${shuffleWriteB / 1e6}%.2f}"""
              if (dt < best) { best = dt; bestLine = line }
              releaseAll(spark)
            }
            val full = fn(spark, sfDir)
            full.queryExecution.toRdd.count() // AQE settles its final plan
            val misses = codegenMisses(full.queryExecution.executedPlan)
            releaseAll(spark)
            println(bestLine.dropRight(1) + s""","codegenMisses":$misses}""")
            if (planSuffix.nonEmpty) {
              val plan = fn(spark, sfDir).queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)
              Files.createDirectories(Paths.get(planDir))
              Files.write(Paths.get(s"$planDir/${name}_$planSuffix.txt"),
                plan.getBytes("UTF-8"))
            }
          } catch {
            case e: Throwable =>
              println(s"""{"probe":"opt","name":"$name","err":"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120).replace('"', '\'').replace('\n', ' ')}"}""")
          }
      }
    }
    spark.stop()
  }

  /** Every HashAggregateExec / SortAggregateExec of an executed plan,
    * paired with whether it runs inside a whole-stage codegen stage. The
    * walk enters AQE's final plan, its query stages and subqueries; an
    * InputAdapter or a stage boundary ends the enclosing codegen stage. A
    * no-grouping aggregate over more buffer fields than
    * `spark.sql.codegen.maxFields` silently loses its `*(n)` prefix. */
  def aggregates(plan: SparkPlan): Seq[(SparkPlan, Boolean)] = {
    def walk(p: SparkPlan, inCodegen: Boolean): Seq[(SparkPlan, Boolean)] = {
      val here = p match {
        case _: HashAggregateExec | _: SortAggregateExec => Seq(p -> inCodegen)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
        case s: QueryStageExec => Seq(s.plan -> false)
        case w: WholeStageCodegenExec => Seq(w.child -> true)
        case i: InputAdapter => Seq(i.child -> false)
        case other => other.children.map(_ -> inCodegen)
      }
      here ++ kids.flatMap { case (c, in) => walk(c, in) } ++
        p.subqueries.flatMap(walk(_, false))
    }
    walk(plan, false)
  }

  /** Hash and sort aggregates of `plan` outside whole-stage codegen. */
  def codegenMisses(plan: SparkPlan): Int = aggregates(plan).count(!_._2)
}
