package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.ShuffleTelemetry

/**
 * The registry loop [[Bench]], [[Verify]], `QueryProbe` and
 * `PressureBench` run queries through: query selection, per-query timing
 * with GC and shuffle deltas, failure capture, and the JSON and median
 * helpers their artifacts share.
 */
object RegistryLoop {

  type QueryFn = (SparkSession, String) => DataFrame

  /** One query's outcome: wall seconds of construction + `act`, the
    * collector-time delta, the shuffle delta (when telemetry is on), and
    * `act`'s result or the non-fatal throwable that ended it. */
  final case class Run[T](name: String, sec: Double, gcMs: Long,
                          shuffle: Option[ShuffleTelemetry.Snap], result: Try[T])

  /** `SPARK_GRAFT_ONLY`: comma-separated query-name prefixes; unset runs
    * the full registry. */
  def onlyPrefixes(env: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Option[Seq[String]] =
    env.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** Registered queries whose name starts with one of `only`, by name. */
  def registered(only: Option[Seq[String]] = onlyPrefixes()): Seq[(String, QueryFn)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }

  /** The registered queries named in `csv`, in that order. */
  def named(csv: String): Seq[(String, QueryFn)] =
    csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      .map(n => n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n")))

  /** Drop every cached/localCheckpointed block the previous query left
    * behind; registered queries are independent, so nothing is reused. */
  def clearPersisted(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    require(n > 0, "median of no values")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A JSON string literal: quote, backslash and every control char
    * escaped, so oracle SQL with a tab or CR still parses. */
  def jsonString(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** A JSON object from keys and already-rendered JSON values. */
  def jsonObject(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  /**
   * Runs `act` on each query's frame built over `sfDir`. The timed region
   * is frame construction (eager work included) plus `act`. A non-fatal
   * failure is captured in its [[Run]] and printed to stderr; the loop
   * goes on.
   *
   * With one thread the queries run in order on the caller's thread, and
   * every query's cached blocks are dropped after it. With more, a worker
   * pool drains the queries, each worker in its own scheduler pool (only
   * consulted under FAIR scheduling); cached blocks are left alone since
   * other queries are still running, and a query a dead worker never
   * finished comes back as a failure. Shuffle deltas are only
   * attributable with one thread.
   */
  def run[T](spark: SparkSession, sfDir: String, queries: Seq[(String, QueryFn)],
             threads: Int = 1, telemetry: Option[ShuffleTelemetry] = None)
            (act: (String, DataFrame) => T): Seq[Run[T]] = {
    def one(name: String, fn: QueryFn): Run[T] = {
      val sh0 = telemetry.map(_.snapshot())
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val result = Try(act(name, fn(spark, sfDir)))
      val sec = (System.nanoTime() - t0) / 1e9
      val gc = gcMillis() - gc0
      val sh = telemetry.map(_.snapshot()).zip(sh0).map { case (a, b) => a - b }
      result.failed.foreach(e => System.err.println(s"[graft] $name failed: ${errorText(e)}"))
      Run(name, sec, gc, sh, result)
    }
    if (threads <= 1) queries.map { case (n, fn) =>
      val r = one(n, fn)
      clearPersisted(spark)
      r
    } else {
      val queue = new ConcurrentLinkedQueue(queries.asJava)
      val done = new ConcurrentLinkedQueue[Run[T]]()
      val workers = (0 until threads).map { i =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-pool-$i")
          Iterator.continually(queue.poll()).takeWhile(_ != null)
            .foreach { case (n, fn) => done.add(one(n, fn)) }
        }, s"graft-loop-$i")
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
      val byName = done.asScala.map(r => r.name -> r).toMap
      queries.map { case (n, _) => byName.getOrElse(n,
        Run[T](n, 0.0, 0L, None, Failure(new IllegalStateException("worker thread died")))) }
    }
  }
}
