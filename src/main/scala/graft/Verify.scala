package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.commons.io.FileUtils

import graft.RegistryLoop.{jsonObject, jsonString}

/**
 * Correctness dump for the DuckDB compare (`tools/local_check.py`): each
 * registered query's result → `<outDir>/<name>/` parquet, plus
 * `oracle_sql.json` and `twins.json`.
 *
 *   Verify <sfDir> <outDir> [threads=1] [fifo|fair]
 *
 * With threads > 1 the full registry runs on N worker threads sharing ONE
 * SparkSession — the shape a real warehouse runs (many sessions, one
 * cluster), which a sequential dump cannot see: session-conf mutation
 * leaking across queries (the hazard nearDupClusters documents in
 * Dedup.scala), temp-view / catalog-name collisions, scratch-path
 * collisions, non-thread-safe driver state in operators, and scheduler
 * starvation. A SparkSession is thread-safe and concurrent jobs from
 * several threads are Spark's documented way to multiplex a cluster;
 * `fair` adds FAIR scheduling, with each worker in its own pool, so one
 * heavy query can't convoy the rest. Queries are ordered by a name hash so
 * adjacent pickups mix families.
 *
 * Fails closed: every query that can be dumped is, then `errors.json`
 * (name → error, `{}` when clean) is written, a failed query's stale dump
 * is removed, and the exit code is 1 naming each failure. Stdout gets one
 * JSON summary line: per-query seconds and the errors map.
 *
 * Cluster smoke (dev-only): SPARK_GRAFT_MASTER runs this main under e.g.
 * local-cluster[w,c,mem] — real executor JVMs, real serialization of the
 * native expressions and TVF plans. That needs the library on the
 * executors' classpath: pass the packaged jar via SPARK_GRAFT_JARS
 * (comma-separated, fed to spark.jars; executor memory
 * SPARK_GRAFT_EXECUTOR_MEM, default 3g). SPARK_GRAFT_ONLY=<prefixes>
 * limits the dump.
 */
object Verify {

  private[graft] def sessionConf(cpus: Int, fair: Boolean,
                                 env: Map[String, String] = sys.env): Map[String, String] =
    GraftSession.conf(cpus,
      env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq ++
      env.get("SPARK_GRAFT_JARS").toSeq.flatMap(jars => Seq("spark.jars" -> jars,
        "spark.executor.memory" -> env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))) ++
      (if (fair) Seq("spark.scheduler.mode" -> "FAIR") else Nil): _*)

  /** Dumps each query's result under `outDir` and writes `errors.json`;
    * returns the per-query runs (a failure's stale dump is removed). */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, RegistryLoop.QueryFn)], threads: Int): Seq[RegistryLoop.Run[Unit]] = {
    Files.createDirectories(Paths.get(outDir))
    val work = queries.sortBy { case (n, _) => n.reverse.hashCode }
    val runs = RegistryLoop.run(spark, sfDir, work, threads) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val failed = runs.filter(_.result.isFailure).sortBy(_.name)
    failed.foreach(r => FileUtils.deleteQuietly(new java.io.File(s"$outDir/${r.name}")))
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonObject(failed.map(r =>
      r.name -> jsonString(RegistryLoop.errorText(r.result.failed.get)))))
    runs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val threads = args.lift(2).map(_.toInt).getOrElse(1)
    val fair = args.lift(3).exists(_.equalsIgnoreCase("fair"))
    val spark = GraftSession.start(sessionConf(GraftSession.cpus, fair))
    val runs = dump(spark, sfDir, outDir, RegistryLoop.registered(), threads)

    def strMap(m: Iterable[(String, String)]): String =
      jsonObject(m.toSeq.sorted.map { case (k, v) => k -> jsonString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), strMap(SparkEntry.oracleSql))
    // twin manifest (round 10): each no-oracle row → its oracled portable
    // twin, so the correctness artifact self-documents that every
    // `no_oracle` row is adjudicated by a green exact twin. Written BOTH
    // next to the dump and to the tracked bench/TWINS.json (content is
    // registry-derived and deterministic, so re-runs never dirty git).
    val twinsJson = strMap(graft.queries.Registry.twins)
    Files.writeString(Paths.get(s"$outDir/twins.json"), twinsJson)
    try Files.writeString(Paths.get("bench/TWINS.json"), twinsJson)
    catch { case NonFatal(e) =>
      System.err.println(s"[verify] could not write bench/TWINS.json: ${e.getMessage}")
    }

    val (ok, failed) = runs.sortBy(_.name).partition(_.result.isSuccess)
    println(s"""{"mode":"${if (fair) "fair" else "fifo"}","threads":$threads,""" +
      s""""queries":${runs.size},"failed":${failed.size},""" +
      s""""times":${jsonObject(ok.map(r => r.name -> f"${r.sec}%.3f"))},""" +
      s""""errors":${strMap(failed.map(r => r.name -> RegistryLoop.errorText(r.result.failed.get)))}}""")
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
  }
}
