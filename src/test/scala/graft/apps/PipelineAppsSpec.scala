package graft.apps

import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

class PipelineAppsSpec extends SparkSpec {

  private def fixtureRoot: String =
    getClass.getResource("/fixtures").getPath

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_app").toString

  private val day = LocalDate.parse("2026-08-12")

  /** ids 0 until n; with `failWith`, executing the frame raises that
    * message on id 5.
    */
  private def frame(n: Int, failWith: Option[String] = None): DataFrame = {
    val id = col("id")
    spark.range(n).select(failWith.fold(id)(m =>
      when(id === 5, raise_error(lit(m))).otherwise(id)).as("id"))
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).toSeq

  /** The table failures suppressed onto `t` (Spark attaches its own
    * caller-stack marker there too).
    */
  private def suppressedFailures(t: Throwable): Seq[Throwable] =
    t.getSuppressed.toSeq.filter(s => messages(s).exists(_.contains("boom")))

  test("eia814 app: end-to-end to partitioned parquet, idempotent on re-run") {
    val out = tempDir()
    val args = PipelineApps.Args(fixtureRoot, out, day)
    PipelineApps.runEia814(spark, args)
    PipelineApps.runEia814(spark, args) // re-run must replace, not duplicate
    val t = spark.read.parquet(s"$out/eia814_cleaned_monthly_crude_oil_imports")
    assert(t.count() == 2)
    assert(t.columns.contains("run_date"))
  }

  test("eia930 app: run-date parameter drives the cutoff") {
    val out = tempDir()
    // run date 2026-08-12 -> cutoff 2026-08-10T00 -> NOTHING survives the
    // fixture's 2026-08-10T00..07 hours except... nothing (all >= cutoff)
    PipelineApps.runEia930(spark, PipelineApps.Args(fixtureRoot, out, day))
    // zero survivors -> no run_date partition directory materializes
    val aggDir = java.nio.file.Paths.get(s"$out/eia930_hourly_net_generation_by_energy_source")
    val partDirs = if (java.nio.file.Files.exists(aggDir))
      java.nio.file.Files.list(aggDir).toArray.map(_.toString).count(_.contains("run_date="))
    else 0
    assert(partDirs == 0)
    // run date 2026-08-12+2 -> cutoff 2026-08-12T00 -> all 8 hours survive
    val out2 = tempDir()
    PipelineApps.runEia930(spark,
      PipelineApps.Args(fixtureRoot, out2, LocalDate.parse("2026-08-14")))
    val all = spark.read.parquet(s"$out2/eia930_hourly_net_generation_by_energy_source")
    assert(all.count() == 24) // 8 hours x 3 fueltypes
  }

  test("eia930 app: re-running a date leaves all 8 tables identical") {
    val out = tempDir()
    val args = PipelineApps.Args(fixtureRoot, out, LocalDate.parse("2026-08-14"))
    def snapshot(): Map[String, Seq[String]] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      val tables = try s.iterator().asScala.map(_.getFileName.toString).toSeq
        finally s.close()
      tables.map(t => t ->
        spark.read.parquet(s"$out/$t").collect().map(_.toString).sorted.toSeq).toMap
    }
    PipelineApps.runEia930(spark, args)
    val first = snapshot()
    assert(first.size == 8)
    assert(first.values.forall(_.nonEmpty), first.filter(_._2.isEmpty).keys)
    PipelineApps.runEia930(spark, args)
    assert(snapshot() == first)
  }

  test("openmeteo app: full weather flow to 3 sinks") {
    val out = tempDir()
    PipelineApps.runOpenMeteo(spark, PipelineApps.Args(fixtureRoot, out, day))
    assert(spark.read.parquet(s"$out/openmeteo_cleaned_weather").count() == 132)
    assert(spark.read.parquet(s"$out/openmeteo_weather_means_per_hour").count() == 48)
    assert(spark.read.parquet(s"$out/openmeteo_weather_deviations_per_hour").count() == 48)
  }

  test("load: a failed table rethrows its error, the other tables are written") {
    val out = tempDir()
    val e = intercept[Throwable](PipelineApps.load(
      Map("a" -> frame(100), "b" -> frame(100, Some("boom-b")), "c" -> frame(50)),
      out, day))
    assert(messages(e).exists(_.contains("boom-b")), messages(e))
    assert(suppressedFailures(e).isEmpty)
    assert(spark.read.parquet(s"$out/a").count() == 100)
    assert(spark.read.parquet(s"$out/c").count() == 50)
  }

  test("load: the first failed table in outputs order is thrown, later ones suppressed") {
    val out = tempDir()
    val e = intercept[Throwable](PipelineApps.load(
      Map("a" -> frame(100, Some("boom-a")), "b" -> frame(100),
        "c" -> frame(100, Some("boom-c"))),
      out, day))
    assert(messages(e).exists(_.contains("boom-a")), messages(e))
    assert(!messages(e).exists(_.contains("boom-c")), messages(e))
    val suppressed = suppressedFailures(e)
    assert(suppressed.length == 1)
    assert(messages(suppressed.head).exists(_.contains("boom-c")))
    assert(spark.read.parquet(s"$out/b").count() == 100)
  }

  test("load: every write job carries the calling thread's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val barrier = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g == "load-spec-barrier") barrier.countDown() else groups.add(g)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("load-spec", "concurrent load")
      PipelineApps.load(
        Map("a" -> frame(10), "b" -> frame(20), "c" -> frame(30)), tempDir(), day)
      // listener events arrive in order: once this job's start is seen,
      // every load job's start has been delivered
      sc.setJobGroup("load-spec-barrier", "listener barrier")
      spark.range(1).count()
      assert(barrier.await(60, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.size >= 3, groups)
    assert(groups.asScala.forall(_ == "load-spec"), groups)
  }
}
