package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the one session factory: the conf every driver main runs with,
  * that no other main builds its own session, and that the catalog memo
  * holds one session at a time. */
class GraftSessionSpec extends SparkSpec {

  private val width = GraftSession.cpus

  private def driverConf: Map[String, String] = Map(
    "spark.master" -> s"local[$width]",
    "spark.app.name" -> "graft-x",
    "spark.sql.shuffle.partitions" -> width,
    "spark.local.dir" -> GraftSession.localDir,
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost")

  test("driver mains get the pinned conf, one shuffle partition per core slot") {
    val got = GraftSession.settings("graft-x", driverMain = true)
    assert(got.map(_._1).distinct.size == got.size, s"duplicate keys in $got")
    val conf = got.toMap
    assert(conf == driverConf)
    assert(conf("spark.sql.shuffle.partitions") ==
      conf("spark.master").stripPrefix("local[").stripSuffix("]"))
  }

  test("library and test sessions differ from the driver conf only in 32 shuffle partitions") {
    assert(GraftSession.settings("graft-x", driverMain = false).toMap ==
      driverConf + ("spark.sql.shuffle.partitions" -> "32"))
  }

  test("a session from the factory carries its settings") {
    // the shared test session overrides master, width and app name
    val overridden = Set("spark.master", "spark.app.name",
      "spark.sql.shuffle.partitions", "spark.sql.warehouse.dir")
    GraftSession.settings("graft-x", driverMain = false)
      .filterNot { case (k, _) => overridden(k) }
      .foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // the warehouse path comes back qualified with its filesystem
    assert(spark.conf.get("spark.sql.warehouse.dir").endsWith("/tmp/graft_warehouse"))
  }

  test("only the factory builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder("))
      .map(p => root.relativize(p).toString).toSet
    assert(builders == Set("graft/core.scala"))
  }

  test("the catalog memo holds only the session that loaded last") {
    val a = spark
    val b = spark.newSession()
    val fromA = Tables.load(a, sfDir, "region")
    assert(Tables.memoSession.contains(a))
    assert(Tables.load(a, sfDir, "region") eq fromA)
    val fromB = Tables.load(b, sfDir, "region")
    assert(Tables.memoSession.contains(b), "a second session's load drops the first's")
    assert(fromB.sparkSession eq b)
    assert(Tables.load(b, sfDir, "region") eq fromB)
    // a session asking again after another starts over: a fresh plan on
    // its own session, and its views are re-created
    Tables.registerAll(b, sfDir)
    Tables.registerAll(a, sfDir)
    assert(Tables.memoSession.contains(a))
    val again = Tables.load(a, sfDir, "region")
    assert((again ne fromA) && (again.sparkSession eq a))
    assert(a.table("region").count() == fromA.count())
    assert(b.table("region").count() == fromB.count())
  }
}
