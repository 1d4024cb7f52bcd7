package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.RegistryLoop.{jsonObject, jsonString, median}

/**
 * Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR.
 *
 * Emits TWO artifacts:
 *
 *  1. stdout — ONE compact JSON line
 *     `{"metric":"total","value":N,"unit":"sec","queries":{...},...}`.
 *     The driver captures only the LAST ~2000 chars of output, so the
 *     per-query map uses each query's unique short prefix (the part before
 *     the first '_': `l5p_minhash_lsh_pairs_portable` → `"l5p"`) and
 *     3-decimal seconds. With full names the line never fit the window —
 *     every prior round's driver-side parse came back null.
 *  2. a full JSON artifact (COMPLETE record: full query names,
 *     full-precision per-rep seconds, per-rep GC-time deltas, per-query
 *     shuffle read/write + spill bytes via [[graft.tools.ShuffleTelemetry]]
 *     — the measured-bytes side of the 100 TB shuffle audit, run
 *     provenance). Artifact provenance is pinned by PATH (round 9 —
 *     the round-8 driver run silently overwrote the committed round-close
 *     artifact, 141.3 s vs 174.3 s, and the working tree read as doc
 *     drift):
 *       - default             → `bench/BENCH_DRIVER.json` (gitignored;
 *         what the driver's per-round run produces — never dirties git)
 *       - SPARK_GRAFT_ONLY    → `bench/BENCH_DEV.json`   (gitignored)
 *       - SPARK_GRAFT_BENCH_OUT=bench/BENCH_LOCAL.json → the TRACKED
 *         round-close artifact, written only by an explicit opt-in run.
 *     Every artifact also carries `run_id`/hostname/load so two runs can
 *     never be confused even if a file is copied around.
 *
 * Noise-robust protocol (round 9): each query runs SPARK_GRAFT_REPS times
 * (default 3), INTERLEAVED suite-wide — pass 1 of every query, then pass 2,
 * then pass 3 — and the reported per-query number — and the headline
 * "value" (their sum) — is the per-query MEDIAN. Round 7 burned a full
 * judge adjudication proving a 2× wall inflation was host noise; round 8's
 * back-to-back median-of-3 fixed one-rep cliffs but was blind to SUSTAINED
 * contention: the r8 driver window inflated all three consecutive reps of
 * c14 (6.8 s vs 0.99 s isolated) and a1 (1.28 s vs 0.34 s). With
 * interleaving, a multi-second contention window inflates one PASS of many
 * queries instead of all reps of one query, and the per-query median
 * self-corrects. The artifact carries min/max/all-reps so any residual
 * outlier is attributable without a rerun.
 *
 * Measurement hygiene:
 *  - an untimed warmup pass exercises the Janino/codegen + JIT cold path
 *    (first generated-class compile costs hundreds of ms that would
 *    otherwise land on whichever query runs first with a native
 *    expression);
 *  - cached/localCheckpointed RDDs are unpersisted after every query
 *    (c9/l13/l16 checkpoint; letting blocks accumulate across 116 queries
 *    builds GC pressure that can cliff an unlucky mid-suite query);
 *  - per-query GC-time deltas go into the full JSON so a one-off outlier
 *    (like the driver's r5 l5p=39.2 s) is attributable from the artifact
 *    alone.
 *
 * Failed queries are reported under "errors" and excluded from
 * "queries"/"value" so a broken query can never be mistaken for a fast one.
 * A query that succeeded on earlier passes and failed later keeps its
 * successful reps in the full artifact under `"partial":true` (still
 * excluded from the headline), so a cross-round diff can see the
 * flakiness instead of misreading the shrunken total as a speedup.
 */
object Bench {

  /** Short display key: unique prefix before the first '_' (falls back to
    * the full name if two registered names would collide). */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    val pref = names.groupBy(n => n.takeWhile(_ != '_'))
    names.map { n =>
      val p = n.takeWhile(_ != '_')
      n -> (if (pref(p).lengthCompare(1) == 0) p else n)
    }.toMap
  }

  /** Bench times under [[GraftSession]]'s conf with nothing added. The AQE
    * coalescing floor stays at Spark's own 1 MB default — measured both
    * ways in round 14: 256k/64k floors fan CPU-dense small shuffles out to
    * the cores (a21 3.25→2.46 warm), but suite-wide the extra tiny tasks
    * cost more than they buy (full-registry A/B at sf0.1: 312.8 s @256k vs
    * 260.6 s @1m, identical code — bench/BENCH_R14_MID{2,3}.json). */
  private[graft] def sessionConf(cpus: Int): Map[String, String] = GraftSession.conf(cpus)

  /** Untimed warmup: a tiny end-to-end plan through the registered native
    * expressions + md5 + a shuffle, so Janino, the codegen cache machinery
    * and the noop writer JIT-compile before anything is timed. */
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
    // also exercise the ObjectHashAggregate collect_set → sort_array →
    // array_join path: s18's cold-rep probe (round 11) showed the first
    // volume pass through that generated class costs ~5× task time
    // (238 s vs 44–57 s warm at sf1) purely in C2-JIT compilation
    spark.range(4096)
      .select((col("id") % 64).as("k"), col("id").cast("string").as("v"))
      .groupBy("k")
      .agg(array_join(sort_array(collect_set(col("v"))), "|").as("agg"),
        countDistinct(col("v")).as("n"))
      .write.format("noop").mode("overwrite").save()
    RegistryLoop.clearPersisted(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = GraftSession.cpus
    // a FILTERED dev run (SPARK_GRAFT_ONLY) must never clobber the tracked
    // full-registry artifact — it burned one round-8 commit before this
    // guard: the single-query JSON silently replaced the 160-query one
    // and the DRIVER's own full-registry run must not clobber it either
    // (round 8: driver overwrote the committed 141.3 s artifact with its
    // contended 174.3 s run) — so the tracked path is explicit-opt-in only
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_ONLY")) "bench/BENCH_DEV.json"
      else "bench/BENCH_DRIVER.json")
    val spark = GraftSession.start(sessionConf(cpus))
    warmUp(spark)

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val queries = RegistryLoop.registered()
    val names = queries.map(_._1)
    // per query: its successful (query, rep) runs — wall seconds, GC delta
    // and per-rep shuffle/spill byte deltas (round 10: measured bytes, not
    // plan shapes, back the 100 TB shuffle-volume audit in PERF.md).
    // INTERLEAVED passes (round 9): pass p of EVERY query, then pass p+1 —
    // a sustained host-contention window now lands on one pass of many
    // queries (median-correctable) instead of all reps of one query.
    val runs = mutable.LinkedHashMap(names.map(_ -> Vector.empty[RegistryLoop.Run[Unit]]): _*)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val telemetry = new graft.tools.ShuffleTelemetry(spark.sparkContext)
    for (_ <- 1 to reps) {
      // a failed query stays failed; skip its later passes
      val pending = queries.filterNot { case (n, _) => errors.contains(n) }
      // noop sink evaluates the full physical plan (count() would let
      // Catalyst prune every projection and undercount the work).
      RegistryLoop.run(spark, sfDir, pending, telemetry = Some(telemetry)) { (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      }.foreach { r =>
        if (r.result.isSuccess) runs(r.name) :+= r
        else errors += r.name -> RegistryLoop.errorText(r.result.failed.get)
      }
    }
    // a query with an error keeps any earlier successful reps as PARTIAL
    // data (full artifact only, flagged) — never in the headline, so a
    // flaky query can't shrink "value" into a phantom speedup unnoticed
    val (partial, ok) = runs.filter(_._2.nonEmpty).partition { case (k, _) => errors.contains(k) }
    val med = ok.map { case (k, v) => k -> median(v.map(_.sec)) }
    val total = med.values.sum
    val es = jsonObject(errors.map { case (k, v) => k -> jsonString(v) })

    // full-fidelity artifact: complete names, every rep, gc telemetry;
    // shuffle bytes are plan-determined (stable across reps modulo AQE),
    // so the artifact carries the per-rep MAX of each counter — one number
    // per query per counter, honest about the worst rep
    def qEntry(v: Vector[RegistryLoop.Run[Unit]], partial: Boolean): String = {
      val secs = v.map(_.sec)
      val sh = v.flatMap(_.shuffle)
      jsonObject(Seq(
        "sec" -> f"${median(secs)}%.6f", "min" -> f"${secs.min}%.6f", "max" -> f"${secs.max}%.6f",
        "reps" -> secs.map(x => f"$x%.6f").mkString("[", ",", "]"),
        "gc_ms" -> v.map(_.gcMs).mkString("[", ",", "]")) ++
        (if (sh.isEmpty) Nil else Seq(
          "shuffle_rw_bytes" -> s"[${sh.map(_.readBytes).max},${sh.map(_.writeBytes).max}]",
          "spill_bytes" -> s"[${sh.map(_.memSpillBytes).max},${sh.map(_.diskSpillBytes).max}]")) ++
        (if (partial) Seq("partial" -> "true") else Nil))
    }
    val fullQs = jsonObject(
      ok.map { case (k, v) => k -> qEntry(v, partial = false) } ++
      partial.map { case (k, v) => k -> qEntry(v, partial = true) })
    // run provenance: pins WHICH run produced an artifact even if the file
    // is copied — round-8's committed-vs-driver artifact confusion is
    // unambiguous with run_id + hostname + load in the record
    val host = try java.net.InetAddress.getLocalHost.getHostName catch { case NonFatal(_) => "unknown" }
    val startedAt = java.time.Instant.now().toString
    val runId = f"${host}-${ProcessHandle.current.pid}%d-${System.currentTimeMillis()}%d"
    val loadAvg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"median","reps":$reps,"interleaved":true,"sf":${jsonString(sfDir)},"cpus":$cpus,""" +
      s""""run_id":${jsonString(runId)},"hostname":${jsonString(host)},"written_at":${jsonString(startedAt)},"load_avg_end":$loadAvg,""" +
      s""""queries":$fullQs,"errors":$es,""" +
      s""""jvm":${jsonString(System.getProperty("java.version"))},"heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)}}"""
    try {
      val p = Paths.get(outPath)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, full.getBytes(StandardCharsets.UTF_8))
    } catch { case NonFatal(e) =>
      System.err.println(s"bench: could not write $outPath: ${e.getMessage}")
    }

    // compact stdout line (must fit the driver's ~2000-char tail window)
    val short = shortKeys(names)
    val qs = jsonObject(med.map { case (k, v) => short(k) -> f"$v%.3f" })
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","stat":"median","reps":$reps,"queries":$qs,"errors":$es,""" +
      s""""sf":${jsonString(sfDir)},"keys":"prefix-before-first-underscore","full":${jsonString(outPath)}}""")
    // Round 15, additions-only: at 329 queries the per-query line above is
    // ~8 KB, longer than the driver's ~2000-char tail capture, so its JSON
    // parse came back null every round (PERF_r14 "prev_bench_ok": false
    // despite rc 0). A SECOND, short, LAST line carries the headline —
    // total, count, errors, and the path of the full artifact — so any
    // tail-window capture gets a complete parseable JSON object. The
    // per-query line, timing protocol and env contract are untouched.
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"total_sec":${f"$total%.3f"},"unit":"sec","stat":"median","reps":$reps,""" +
      s""""n":${med.size},"errors":$es,"sf":${jsonString(sfDir)},"cpus":$cpus,"full":${jsonString(outPath)}}""")
    spark.stop()
  }
}
