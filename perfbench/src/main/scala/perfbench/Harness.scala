package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{Q, Registry}

/**
 * One benchmark run in one JVM: session start and warmup, an untimed check
 * pass that writes each query's output for the DuckDB comparison, then the
 * closed loop (one client, one query at a time, noop sink) over the pass
 * orders run.py wrote. Everything measured goes to `records.jsonl`; run.py
 * turns it into metrics.
 *
 * Usage: Harness PLAN_JSON SF_DIR OUT_DIR
 */
object Harness {

  /** graft.Bench's session conf at SPARK_GRAFT_CPUS=4, fixed here. */
  val Conf: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions")

  private def now(): Double = {
    val t = Instant.now()
    t.getEpochSecond + t.getNano / 1e9
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Linux USER_HZ, the unit of /proc utime and stime. */
  private val ClockTicks = 100.0

  /** CPU seconds of the JVM's JIT compiler threads so far, read from
    * /proc/self/task (HotSpot names them "C1 CompilerThread<n>" and
    * "C2 CompilerThread<n>"; run.py keeps all of them alive for the whole
    * run, so none of their time leaves the sum). Their time per pass falls
    * as warm-up proceeds and varies between runs by more than a change to
    * the queries' own CPU would move it, so cpu_s leaves it out. */
  private def jitCpuS(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).iterator.map { t =>
      try {
        val stat = Files.readString(Paths.get(t.getPath, "stat"))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) 0.0
        else {
          // fields after "(comm) ": state is index 0, utime 11, stime 12 (clock ticks)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / ClockTicks
        }
      } catch { case NonFatal(_) => 0.0 } // the thread ended while being read
    }.sum

  /** Session start and Bench's warmup, recorded as one setup sample. */
  private def setUp(workDir: String, rec: Records): SparkSession = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val b = SparkSession.builder()
    Conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ready = now()
    warmUp(spark)
    val warm = now()
    rec.write("setup", "start_s" -> (ready - jvmStart), "warmup_s" -> (warm - ready),
      "setup_s" -> (warm - jvmStart))
    rec.write("conf", (Conf ++ Seq(
      "java.version" -> System.getProperty("java.version"),
      "java.vm.name" -> System.getProperty("java.vm.name"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark.version" -> spark.version)): _*)
    spark
  }

  /** graft.Bench's untimed warmup: native expressions, md5, a shuffle and
    * the collect_set/sort_array aggregate path, so JIT and codegen caches
    * are warm before anything is timed. */
  private def warmUp(spark: SparkSession): Unit = {
    val warm = spark.range(256)
      .select(col("id"), split(concat(col("id").cast("string"), lit(" warm up tokens")), " ").as("toks"))
      .select(
        md5(col("id").cast("string").cast("binary")).as("m"),
        graft.llm.SimHash64.simhashCol(spark, "toks").as("sh"),
        graft.llm.SimHashPortable60.simhashCol(spark, "toks").as("shp"),
        graft.llm.TextOps.docFingerprint(col("id").cast("string")).as("fp"),
        graft.llm.TextOps.portableDocFingerprint(col("id").cast("string")).as("pfp"))
    warm.groupBy("m").agg(max("sh"), max("shp"), max("fp"), max("pfp"))
      .write.format("noop").mode("overwrite").save()
    spark.range(4096)
      .select((col("id") % 64).as("k"), col("id").cast("string").as("v"))
      .groupBy("k")
      .agg(array_join(sort_array(collect_set(col("v"))), "|").as("agg"),
        countDistinct(col("v")).as("n"))
      .write.format("noop").mode("overwrite").save()
    clearPersisted(spark)
  }

  /** Each query is independent: drop whatever the last one cached. */
  private def clearPersisted(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Old-generation heap in use after full GCs, in MB. A GC lets Spark's
    * ContextCleaner see the last query's dead broadcasts and shuffles, which
    * it then releases on its own thread; so collect again (up to four
    * times) until a GC frees less than 1 MB more. */
  private def oldGenAfterGcMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    var last = used()
    var rounds = 1
    var freed = Double.MaxValue
    while (rounds < 4 && freed >= 1.0) {
      Thread.sleep(250)
      val now = used()
      freed = last - now
      last = now
      rounds += 1
    }
    last
  }

  def main(args: Array[String]): Unit = args match {
    case Array(plan, sfDir, outDir) => run(Plan.read(plan), sfDir, outDir)
    case _ =>
      System.err.println("usage: Harness PLAN_JSON SF_DIR OUT_DIR")
      sys.exit(2)
  }

  /** What run.py asks of one run (see its `write_plan`). */
  final case class Plan(workload: String, names: Vector[String], orders: Vector[Vector[Int]],
                        passKinds: Vector[String], trace: Boolean, probe: Vector[String],
                        kernelDir: String)

  object Plan {
    def read(path: String): Plan = {
      val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
      def strs(k: String) = j.get(k).elements().asScala.map(_.asText).toVector
      Plan(j.get("workload").asText, strs("names"),
        j.get("orders").elements().asScala.map(_.elements().asScala.map(_.asInt).toVector).toVector,
        strs("pass_kinds"), j.get("trace").asBoolean, strs("probe"), j.get("kernel_dir").asText)
    }
  }

  private def run(plan: Plan, sfDir: String, outDir: String): Unit = {
    import plan._
    val registry: Map[String, Q] = Registry.all.toMap
    val missing = (names ++ probe).filterNot(registry.contains)
    require(missing.isEmpty, s"workload $workload lists names not in Registry.all: ${missing.mkString(", ")}")
    val noOracle = names.filterNot(n => registry(n).oracle.isDefined)
    require(noOracle.isEmpty, s"workload $workload lists names without an oracle: ${noOracle.mkString(", ")}")

    val rec = new Records(s"$outDir/records.jsonl")
    try {
      val spark = setUp(outDir, rec)
      val tracer = new Tracer(spark, rec)
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), names.map { n =>
        Records.quote(n) + ":" + Records.quote(registry(n).oracle.get)
      }.mkString("{", ",", "}"))

      // untimed check pass: every output to parquet for DuckDB, and the
      // rows each query reads (scan counters of its check-pass stages)
      val failed = scala.collection.mutable.LinkedHashSet.empty[String]
      /** Runs one query of a pass; a failure drops it from later passes. */
      def attempt(n: String, pass: Int)(body: => Unit): Unit = {
        try body
        catch { case NonFatal(e) =>
          failed += n
          rec.write("failure", "query" -> n, "pass" -> pass, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        }
        clearPersisted(spark)
      }
      tracer.on = true
      names.foreach { n =>
        attempt(n, -1)(tracer.tagged(s"check:$n", "execute") {
          registry(n).fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/check/$n")
        })
      }
      tracer.resetWrite()
      tracer.on = false

      /** One (query, rep) to the noop sink; spans and plan when traced. */
      def timed(n: String, id: String, traced: Boolean): Unit = {
        val q = registry(n)
        tracer.on = traced
        val t0 = now()
        val df = if (traced) tracer.tagged(id, "construct")(q.fn(spark, sfDir)) else q.fn(spark, sfDir)
        val t1 = now()
        if (traced) tracer.recordAnalysis(id, df)
        if (traced) tracer.resetWrite()
        val t2 = now()
        if (traced) tracer.tagged(id, "execute")(df.write.format("noop").mode("overwrite").save())
        else df.write.format("noop").mode("overwrite").save()
        val t3 = now()
        if (traced) {
          val execStart = tracer.finishWrite(id, t2)
          rec.write("span", "id" -> id, "name" -> "query", "parent" -> "workload", "start_s" -> t0, "end_s" -> t3)
          rec.write("span", "id" -> id, "name" -> "construct", "parent" -> "query", "start_s" -> t0, "end_s" -> t1)
          rec.write("span", "id" -> id, "name" -> "execute", "parent" -> "query", "start_s" -> execStart, "end_s" -> t3)
        }
        tracer.on = false
        rec.write("sample", "query" -> n, "id" -> id, "traced" -> traced, "eager" -> q.eager,
          "construct_s" -> (t1 - t0), "wall_s" -> ((t1 - t0) + (t3 - t2)))
      }

      // untimed warm-up passes: every query to the noop sink, so the timed
      // passes start on code the JIT has compiled (the check pass wrote
      // parquet through other plans)
      val warmups = passKinds.count(_ == "warmup")
      orders.take(warmups).zipWithIndex.foreach { case (order, pass) =>
        order.map(names).filterNot(failed.contains).foreach { n =>
          attempt(n, pass)(registry(n).fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
      }

      // per timed pass: process CPU of its queries less the JIT compiler threads'
      // (the full GCs that then measure the heap are left out) and
      // old-generation heap after those GCs
      val cpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val jitS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val heapMb = scala.collection.mutable.ArrayBuffer.empty[Double]
      val loopStart = now()
      orders.zipWithIndex.drop(warmups).foreach { case (order, pass) =>
        val jit0 = jitCpuS()
        val cpu0 = processCpuS() - jit0
        order.map(names).filterNot(failed.contains).foreach { n =>
          attempt(n, pass)(timed(n, s"$n#$pass", traced = passKinds(pass) == "traced"))
        }
        val jit1 = jitCpuS()
        cpuS += processCpuS() - jit1 - cpu0
        jitS += jit1 - jit0
        // the last query's plan stays referenced until another one runs
        // (j2's broadcast: 12 MB), so end every pass on the same tiny job
        spark.range(1).write.format("noop").mode("overwrite").save()
        heapMb += oldGenAfterGcMb()
      }
      val loopEnd = now()
      rec.write("loop", "passes" -> cpuS.length, "cpu_s" -> cpuS.toSeq, "jit_cpu_s" -> jitS.toSeq,
        "heap_mb" -> heapMb.toSeq)

      if (trace) {
        rec.write("span", "id" -> workload, "name" -> "workload", "parent" -> "", "start_s" -> loopStart, "end_s" -> loopEnd)
        // fork probe: which side of each size-keyed plan fork this
        // workload's inputs select, read off the planned (not run) query
        probe.foreach { n =>
          val df = registry(n).fn(spark, sfDir).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
          rec.write("plan", ("id" -> s"probe:$n") +: Tracer.signature(df.queryExecution.executedPlan): _*)
        }
        Kernels.run(spark, kernelDir, rec)
      }
      spark.stop()
    } finally rec.close()
  }
}
