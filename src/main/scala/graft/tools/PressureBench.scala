package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success}

import org.apache.spark.sql.functions._

import graft.{GraftSession, RegistryLoop}

/**
 * Memory-pressure correctness+spill harness — the round-10 verdict's
 * "What's missing #2": every committed bench run is zero-spill, which
 * proves the plans are comfortable but leaves the SPILL PATH itself
 * unexercised. A 100 TB posture claim needs one deliberate
 * memory-starved run showing the heavy shuffle rows (a) still complete,
 * (b) actually spill (nonzero measured spill bytes — the pressure was
 * real, not cosmetic), and (c) produce bit-identical results to the
 * comfortable run.
 *
 * For each named query this main computes an order-insensitive result
 * fingerprint — row count plus SUM(xxhash64(to_json(struct(cols sorted
 * by name)))) widened to DECIMAL(38,0) so the sum can't overflow — and
 * records wall seconds + shuffle/spill telemetry. Run it twice from
 * run_main.sh under different heap, memory-fraction and core configs and diff the
 * fingerprints: identical fingerprints with nonzero spill in the starved
 * run is the graceful-degradation proof.
 *
 * Usage: runMain graft.tools.PressureBench <sfDir> <outJson> <names,csv>
 * Knobs (env): SPARK_GRAFT_CPUS (cores and shuffle partitions),
 *   SPARK_GRAFT_MEM_FRACTION (spark.memory.fraction), heap via run_main.sh.
 */
object PressureBench {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val cpus = GraftSession.cpus
    val memFrac = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.6")
    val spark = GraftSession.start(GraftSession.conf(cpus, "spark.memory.fraction" -> memFrac))
    val telemetry = new ShuffleTelemetry(spark.sparkContext)
    val queries = RegistryLoop.named(args(2))

    // order-insensitive fingerprint: per-row hash of the full row (columns
    // in name order so both runs canonicalize identically), summed in
    // DECIMAL(38,0) — 6M rows × |xxhash64| ≤ 2^63 stays far inside 38 digits
    val runs = RegistryLoop.run(spark, sfDir, queries, telemetry = Some(telemetry)) { (_, df) =>
      val cols = df.columns.sorted.map(col)
      val fp = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
        .agg(count(lit(1)).cast("long").as("rows"),
          sum(col("h").cast("decimal(38,0)")).as("hsum"))
        .collect()(0)
      (fp.getLong(0), Option(fp.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
    }
    val entries = runs.map { r =>
      val d = r.shuffle.get
      r.name -> (r.result match {
        case Success((rows, hsum)) =>
          println(f"${r.name}%-28s ${r.sec}%8.2fs rows=$rows%-9d hsum=$hsum " +
            f"spill=${d.memSpillBytes / 1024 / 1024}MB/${d.diskSpillBytes / 1024 / 1024}MB " +
            f"shuffle=${d.readBytes / 1024 / 1024}MB")
          s"""{"sec":${f"${r.sec}%.3f"},"rows":$rows,"fingerprint":"$hsum",""" +
            s""""shuffle_rw_bytes":[${d.readBytes},${d.writeBytes}],""" +
            s""""spill_bytes":[${d.memSpillBytes},${d.diskSpillBytes}]}"""
        case Failure(e) =>
          println(s"${r.name} FAILED: ${RegistryLoop.errorText(e)}")
          s"""{"error":${RegistryLoop.jsonString(RegistryLoop.errorText(e))}}"""
      })
    }

    val heapMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val json =
      s"""{"sf":${RegistryLoop.jsonString(sfDir)},"cpus":$cpus,"shuffle_partitions":$cpus,""" +
      s""""memory_fraction":$memFrac,"heap_max_mb":$heapMb,""" +
      s""""queries":${RegistryLoop.jsonObject(entries)}}"""
    val p = Paths.get(outPath)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
    println(s"wrote $outPath")
    spark.stop()
  }
}
