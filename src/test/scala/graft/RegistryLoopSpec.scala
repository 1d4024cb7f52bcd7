package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, raise_error, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

class RegistryLoopSpec extends AnyFunSuite with SparkTestBase {

  private val json = new ObjectMapper()

  test("jsonString round-trips quotes, backslashes and control chars through Jackson") {
    val nasty = Seq("plain", "say \"hi\"", "back\\slash", "line\nbreak\r\n", "tab\there",
      "\u0000nul\u0001\u001f", "unicode é ✓", "", "\\\"")
    nasty.foreach { s =>
      assert(json.readValue(RegistryLoop.jsonString(s), classOf[String]) === s)
    }
    val obj = json.readTree(RegistryLoop.jsonObject(nasty.map(s => s -> RegistryLoop.jsonString(s))))
    nasty.foreach(s => assert(obj.get(s).asText() === s))
  }

  test("Bench.shortKeys gives every registered query a unique key") {
    val names = Registry.all.map(_._1)
    assert(names.distinct.size === names.size)
    val keys = Bench.shortKeys(names)
    assert(keys.values.toSet.size === names.size)
    assert(Bench.shortKeys(Seq("a1_x", "a1_y", "b2_z")) ===
      Map("a1_x" -> "a1_x", "a1_y" -> "a1_y", "b2_z" -> "b2"))
  }

  test("SPARK_GRAFT_ONLY selects registered queries by name prefix") {
    assert(RegistryLoop.onlyPrefixes(None) === None)
    assert(RegistryLoop.onlyPrefixes(Some(" a1, j2,,")) === Some(Seq("a1", "j2")))
    val picked = RegistryLoop.registered(RegistryLoop.onlyPrefixes(Some("a1,j2"))).map(_._1)
    assert(picked.nonEmpty && picked === picked.sorted)
    assert(picked === Registry.all.map(_._1).filter(n => n.startsWith("a1") || n.startsWith("j2")).sorted)
    assert(RegistryLoop.registered(None).size === Registry.all.size)
  }

  test("median of odd and even counts") {
    assert(RegistryLoop.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(RegistryLoop.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(RegistryLoop.median(Seq(7.0)) === 7.0)
    intercept[IllegalArgumentException](RegistryLoop.median(Nil))
  }

  test("Bench and QueryProbe --explain take their conf from the one GraftSession map") {
    val benchConf = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions")
    assert(GraftSession.conf(4) === benchConf)
    assert(Bench.sessionConf(4) === benchConf)
    assert(tools.QueryProbe.sessionConf(4) === benchConf)
    assert(Verify.sessionConf(4, fair = false, env = Map.empty) === benchConf)
    assert(Verify.sessionConf(4, fair = true, env = Map.empty) ===
      benchConf + ("spark.scheduler.mode" -> "FAIR"))
    val cluster = Verify.sessionConf(4, fair = false,
      env = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]", "SPARK_GRAFT_JARS" -> "g.jar"))
    assert(cluster("spark.master") === "local-cluster[2,1,1024]")
    assert(cluster("spark.jars") === "g.jar" && cluster("spark.executor.memory") === "3g")
  }

  test("Verify dumps every query it can, then names each failure in errors.json") {
    val planted: Seq[(String, RegistryLoop.QueryFn)] = Seq(
      "ok_range" -> ((s, _) => s.range(5).toDF("id")),
      "bad_construct" -> ((_, _) => sys.error("planted construction failure")),
      "bad_execute" -> ((s, _) => s.range(5).select(
        when(col("id") === 3, raise_error(lit("planted execution failure"))).as("x"))))
    for (threads <- Seq(1, 2)) {
      val out = Files.createTempDirectory("verify-spec").toString
      // a stale dump from an earlier run must not survive a failure
      Files.createDirectories(java.nio.file.Paths.get(s"$out/bad_execute"))
      val runs = Verify.dump(spark, "unused", out, planted, threads)
      assert(runs.map(_.name).sorted === planted.map(_._1).sorted)
      assert(runs.filter(_.result.isFailure).map(_.name).sorted === Seq("bad_construct", "bad_execute"))
      val errors = json.readTree(new java.io.File(s"$out/errors.json"))
      assert(errors.fieldNames().asScala.toSeq.sorted === Seq("bad_construct", "bad_execute"))
      assert(errors.get("bad_construct").asText().contains("planted construction failure"))
      assert(spark.read.parquet(s"$out/ok_range").count() === 5)
      assert(!new java.io.File(s"$out/bad_execute").exists())
      assert(!new java.io.File(s"$out/bad_construct").exists())
    }
  }
}
