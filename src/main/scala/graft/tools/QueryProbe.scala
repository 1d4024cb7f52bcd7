package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, RegistryLoop}

/**
 * Per-query diagnostic, under [[graft.Bench]]'s session conf.
 *
 * Probe mode runs one or more registered queries for N reps on one SF dir
 * and prints, per rep, the wall time, GC delta, disk spill AND a
 * per-stage breakdown (run time, GC, shuffle bytes, spill, task count) —
 * the evidence layer Bench deliberately aggregates away (e.g. whether a
 * slow rep is one STAGE — a sort fallback, scan skew — or ambient GC/host).
 *
 *   QueryProbe <names,csv> <sfDir> [reps=3] [--rows]
 *     --rows additionally counts output rows (one extra evaluation).
 *
 * Explain mode dumps the formatted physical plan of each selected query
 * to `target/explains/<name>.txt` plus a one-line summary to stdout:
 * exchange / broadcast / sort-merge / codegen-span counts and pushed
 * filters.
 *
 *   QueryProbe --explain <sfDir> [prefixes,csv]
 *
 * Exits 1 if any query failed.
 */
object QueryProbe {

  private final case class StageRow(id: Int, name: String, tasks: Int,
    runMs: Long, gcMs: Long, shRead: Long, shWrite: Long,
    memSpill: Long, diskSpill: Long)

  private final class StageTap extends SparkListener {
    val rows = mutable.ArrayBuffer.empty[StageRow]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) rows += StageRow(si.stageId,
        si.name.linesIterator.next().take(96), si.numTasks,
        m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled)
    }
  }

  /** Both modes, like Bench, run under [[GraftSession]]'s conf as is. */
  private[graft] def sessionConf(cpus: Int): Map[String, String] = GraftSession.conf(cpus)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start(sessionConf(GraftSession.cpus))
    val runs = if (args.headOption.contains("--explain")) {
      val sfDir = args(1)
      val outDir = Paths.get("target/explains")
      Files.createDirectories(outDir)
      RegistryLoop.run(spark, sfDir, RegistryLoop.registered(RegistryLoop.onlyPrefixes(args.lift(2)))) {
        (name, df) =>
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.write(outDir.resolve(s"$name.txt"), plan.getBytes(StandardCharsets.UTF_8))
          val exchanges = "Exchange".r.findAllIn(plan).size
          val bcasts = "BroadcastHashJoin".r.findAllIn(plan).size
          val smj = "SortMergeJoin".r.findAllIn(plan).size
          // codegen spans only surface in SIMPLE mode as `*(n)` operator
          // prefixes (formatted mode never prints the WholeStageCodegen
          // label pre-execution) — count DISTINCT span ids
          val simple = df.queryExecution.explainString(ExplainMode.fromString("simple"))
          val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(simple).map(_.group(1)).toSet.size
          val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan).count(!_.contains("[]"))
          println(f"$name%-28s exch=$exchanges bhj=$bcasts smj=$smj wsc=$codegen pushedFilters=$pushed")
      }
    } else probe(spark, args)
    spark.stop()
    if (runs.exists(_.result.isFailure)) sys.exit(1)
  }

  private def probe(spark: org.apache.spark.sql.SparkSession,
                    args: Array[String]): Seq[RegistryLoop.Run[Unit]] = {
    val sfDir = args(1)
    val reps = args.lift(2).filterNot(_.startsWith("--")).map(_.toInt).getOrElse(3)
    val wantRows = args.contains("--rows")
    val queries = RegistryLoop.named(args(0))
    val tap = new StageTap
    spark.sparkContext.addSparkListener(tap)

    queries.flatMap { q =>
      println(s"\n=== ${q._1} @ $sfDir (reps=$reps) ===")
      if (wantRows) RegistryLoop.run(spark, sfDir, Seq(q))((_, df) => df.count())
        .foreach(_.result.foreach(n => println(f"output_rows=$n%d")))
      (1 to reps).flatMap { rep =>
        GraftListenerBridge.drainListenerBus(spark.sparkContext)
        tap.rows.clear()
        val runs = RegistryLoop.run(spark, sfDir, Seq(q)) { (_, df) =>
          df.write.format("noop").mode("overwrite").save()
        }
        GraftListenerBridge.drainListenerBus(spark.sparkContext)
        val st = tap.rows.toVector.sortBy(-_.runMs)
        runs.foreach { r =>
          println(f"rep$rep%d wall=${r.sec}%.2fs driver_gc=${r.gcMs}ms stages=${st.size}%d " +
            f"disk_spill=${st.map(_.diskSpill).sum}B" +
            r.result.failed.map(e => s" FAILED ${RegistryLoop.errorText(e)}").getOrElse(""))
        }
        st.take(8).foreach { r =>
          println(f"  stage${r.id}%-5d run=${r.runMs}%7dms gc=${r.gcMs}%6dms tasks=${r.tasks}%4d " +
            f"shR=${r.shRead / 1024 / 1024}%5dMB shW=${r.shWrite / 1024 / 1024}%5dMB " +
            f"spill=${r.memSpill / 1024 / 1024}%5dMB/${r.diskSpill / 1024 / 1024}%dMB  ${r.name}%s")
        }
        runs
      }
    }
  }
}
