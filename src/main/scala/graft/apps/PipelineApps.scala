package graft.apps

import graft.core.Sessions
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Task}
import graft.pipelines._
import graft.sources._
import graft.sources.EnvelopeJson.FixturePages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Runnable pipeline applications (SURVEY.md §2h D1/D2): one Spark app per
  * reference DAG, composed as extract >> transform >> load inside a
  * TaskGraph with the reference's retry policy. External cron triggers these
  * mains on the reference's schedules (daily 01:00 / monthly / quarterly).
  *
  * Sources come from a directory of canned payloads (`--src`), standing in
  * for the HTTP fetchers — the PageSource seam is where a production HTTP
  * client plugs in. Sinks are parquet tables under `--out`, written with
  * dynamic partition overwrite on the run date so re-runs are idempotent
  * (unlike the reference's blind JDBC appends). An app's tables are loaded
  * concurrently, one task per table (see [[load]]).
  */
object PipelineApps {

  final case class Args(src: String, out: String, runDate: java.time.LocalDate)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    Args(
      src = m.getOrElse("--src", "src/test/resources/fixtures"),
      out = m.getOrElse("--out", "/tmp/graft_out"),
      runDate = m.get("--run-date").map(java.time.LocalDate.parse)
        .getOrElse(java.time.LocalDate.now()))
  }

  /** Load stage shared by all apps: each output frame becomes a partitioned
    * parquet table keyed by the run date. The tables are written
    * concurrently, one [[TaskGraph]] task per table on up to
    * `defaultParallelism` threads: a single table's write leaves most cores
    * idle between its jobs (driver-side planning and commit), and separate
    * tables share nothing. Every write carries the caller's Spark local
    * properties (see [[TaskGraph.runParallel]]). Table tasks never retry
    * on their own: the app-level task owns the retry policy, and since
    * each write replaces exactly its run-date partition, re-running the
    * whole load is safe. Every write is joined before an error surfaces,
    * so a retry never races its own in-flight writes; the first failed
    * table in `outputs` order is rethrown with the other failures
    * suppressed onto it.
    */
  def load(outputs: Map[String, DataFrame], outDir: String,
           runDate: java.time.LocalDate): Unit =
    if (outputs.nonEmpty) {
      val tasks = outputs.toSeq.map { case (table, df) =>
        Task(table, policy = RetryPolicy(retries = 0))(() =>
          Sinks.overwriteRunPartition(
            df.withColumn("run_date", lit(runDate.toString)),
            s"$outDir/$table", "run_date"))
      }
      val cores = outputs.head._2.sparkSession.sparkContext.defaultParallelism
      val results = TaskGraph.runParallel(tasks, parallelism = math.min(tasks.size, cores))
      val errors = tasks.map(t => results(t.id)).collect {
        case TaskGraph.FailedAfterRetries(_, e) => e
      }
      errors.headOption.foreach { first =>
        errors.tail.foreach(first.addSuppressed)
        throw first
      }
    }

  private def app(name: String)(body: (SparkSession, Args) => Unit): Array[String] => Unit =
    argv => {
      val args = parseArgs(argv)
      val spark = Sessions.local(name)
      try {
        val results = TaskGraph.run(Seq(
          Task("run", policy = RetryPolicy(retries = 2, delayMs = 1000))(
            () => body(spark, args))))
        results.values.collectFirst {
          case TaskGraph.FailedAfterRetries(_, e) => throw e
        }
      } finally spark.stop()
    }

  /** EIA-930 daily: cutoff = run date minus 2 days at hour 00 (:48,:98). */
  def runEia930(spark: SparkSession, a: Args): Unit = {
    val cutoff = java.sql.Timestamp.valueOf(a.runDate.minusDays(2).atStartOfDay())
    val stop = a.runDate.minusDays(2).toString + "T00"
    def pages(sub: String, row: org.apache.spark.sql.types.StructType, pageSize: Int) =
      EnvelopeJson.parsePages(spark,
        EnvelopeJson.fetchUntilPeriod(new FixturePages(s"${a.src}/eia930/$sub", pageSize), pageSize, stop),
        row)
    load(Eia930Pipeline.transform(
      pages("fuel", Schemas.fuelTypeDataRow, 12),
      pages("region", Schemas.regionDataRow, 40),
      pages("interchange", Schemas.interchangeDataRow, 16),
      CsvSources.balancingAuthorities(spark, s"${a.src}/eia930/ba.csv"),
      CsvSources.energySources(spark, s"${a.src}/eia930/energy.csv"),
      cutoff), a.out, a.runDate)
  }

  /** EIA-7A quarterly: target quarter = run date minus 6 months (:51,:76). */
  def runEia7a(spark: SparkSession, a: Args): Unit = {
    val quarter = Eia7aPipeline.quarterLabelFor(a.runDate, monthsAgo = 6)
    def pages(sub: String, row: org.apache.spark.sql.types.StructType, pageSize: Int) =
      EnvelopeJson.parsePages(spark,
        EnvelopeJson.fetchWhilePeriodEquals(new FixturePages(s"${a.src}/eia7a/$sub", pageSize), pageSize, quarter),
        row)
    load(Eia7aPipeline.transform(
      pages("customs", Schemas.coalImportsExportsRow, 4),
      pages("mine", Schemas.coalShipmentReceiptsRow, 1),
      quarter), a.out, a.runDate)
  }

  /** EIA-814 monthly: fetch until the API runs dry (:52-54). */
  def runEia814(spark: SparkSession, a: Args): Unit =
    load(Eia814Pipeline.transform(
      EnvelopeJson.parsePages(spark,
        EnvelopeJson.fetchUntilEmpty(new FixturePages(s"${a.src}/eia814", 1), 1),
        Schemas.crudeOilImportsRow)), a.out, a.runDate)

  /** Open-Meteo daily: one response document per curated coordinate. */
  def runOpenMeteo(spark: SparkSession, a: Args): Unit = {
    val dir = java.nio.file.Paths.get(s"${a.src}/openmeteo")
    val stream = java.nio.file.Files.list(dir)
    val files = try stream.toArray.map(_.toString) finally stream.close()
    val bodies = files.filter(_.endsWith(".json")).sorted.toSeq
      .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    load(OpenMeteoPipeline.transform(
      OpenMeteoSource.parseResponses(spark, bodies),
      CsvSources.coordinates(spark, s"${a.src}/openmeteo/coords.csv")),
      a.out, a.runDate)
  }

  private[apps] def runApp(name: String, body: (SparkSession, Args) => Unit,
                           argv: Array[String]): Unit = app(name)(body)(argv)
}

// Top-level objects: nested objects get no static main forwarder, so
// `sbt "runMain graft.apps.Eia930App"` needs these at package level.
object Eia930App {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("eia930", PipelineApps.runEia930, argv)
}
object Eia7aApp {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("eia7a", PipelineApps.runEia7a, argv)
}
object Eia814App {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("eia814", PipelineApps.runEia814, argv)
}
object OpenMeteoApp {
  def main(argv: Array[String]): Unit =
    PipelineApps.runApp("openmeteo", PipelineApps.runOpenMeteo, argv)
}
