package perfbench

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.apps.PipelineApps
import graft.orchestration.TaskGraph
import graft.orchestration.TaskGraph.{RetryPolicy, Task}
import graft.pipelines._
import graft.sources._
import graft.sources.EnvelopeJson.FixturePages
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The paper's workload: consecutive run dates of the four DAG apps, each
  * date one operation of four independent tasks through
  * `TaskGraph.runParallel`. Untraced passes call `PipelineApps.run*`; the
  * traced pass composes each app from the same public layer calls
  * (`EnvelopeJson.fetch*`, `parsePages`, `*Pipeline.transform`,
  * `PipelineApps.load`) with a span around each, and a check proves the
  * composition writes the same tables.
  */
final class DagBackfill(input: String, work: String) extends Workload {
  private val meta = Json.read(s"$input/meta.json")
  private val dates = meta.get("dates").elements().asScala.map(_.asText).toSeq
  private val rerunDate = meta.get("rerun_date").asText
  private val tables = meta.get("tables").elements().asScala.map(_.asText).toSeq
  private val PageRows = 5000

  private val attempts = new AtomicLong
  private val tasksRun = new AtomicLong
  private val pagesFetched = new AtomicLong

  private def out(pass: Int) = s"$work/out/pass$pass"

  private type App = (SparkSession, PipelineApps.Args) => Unit
  private val apps: Seq[(String, App, (SparkSession, PipelineApps.Args, Tracer) => Unit)] = Seq(
    ("eia930", PipelineApps.runEia930, eia930),
    ("eia7a", PipelineApps.runEia7a, eia7a),
    ("eia814", PipelineApps.runEia814, eia814),
    ("openmeteo", PipelineApps.runOpenMeteo, openMeteo))

  private def runDate(spark: SparkSession, date: String, outDir: String, tr: Tracer): Unit =
    tr.span("dag.date", op = true) {
      val args = PipelineApps.Args(s"$input/$date", outDir, LocalDate.parse(date))
      val tasks = apps.map { case (name, run, composed) =>
        Task(name, policy = RetryPolicy(retries = 2, delayMs = 1000))(() => {
          attempts.incrementAndGet()
          if (tr.enabled) tr.span(s"apps.$name")(composed(spark, args, tr))
          else run(spark, args)
        })
      }
      tasksRun.addAndGet(tasks.size)
      val cores = spark.sparkContext.defaultParallelism
      val results = TaskGraph.runParallel(tasks, parallelism = math.min(tasks.size, cores))
      results.foreach {
        case (_, TaskGraph.Succeeded) =>
        case (_, TaskGraph.FailedAfterRetries(_, e)) => throw e
        case (name, other) => sys.error(s"$name: $other")
      }
    }

  /** Loads the date the check re-runs into its own directory: the
    * reference a re-run must reproduce.
    */
  override def warmUp(spark: SparkSession): Unit =
    runDate(spark, rerunDate, s"$work/warm", Tracer.off)

  override def pass(spark: SparkSession, pass: Int, tr: Tracer): Seq[Op] = {
    Seq(attempts, tasksRun, pagesFetched).foreach(_.set(0))
    dates.map(d => Op.time(runDate(spark, d, out(pass), tr)))
  }

  // ---- the apps composed from their layer calls, one span per call ----

  private def fetch(tr: Tracer)(pages: => Seq[String]): Seq[String] = {
    val p = tr.span("sources.fetch")(pages)
    pagesFetched.addAndGet(p.size)
    p
  }

  private def parse(spark: SparkSession, tr: Tracer, pages: Seq[String],
                    row: StructType): DataFrame =
    tr.span("sources.parse_build")(EnvelopeJson.parsePages(spark, pages, row))

  private def load(tr: Tracer, outputs: Map[String, DataFrame],
                   a: PipelineApps.Args): Unit =
    outputs.foreach { case (table, df) =>
      tr.span("sinks.load")(PipelineApps.load(Map(table -> df), a.out, a.runDate))
    }

  private def eia930(spark: SparkSession, a: PipelineApps.Args, tr: Tracer): Unit = {
    val cutoff = java.sql.Timestamp.valueOf(a.runDate.minusDays(2).atStartOfDay())
    val stop = a.runDate.minusDays(2).toString + "T00"
    def pages(sub: String, row: StructType) = parse(spark, tr, fetch(tr)(
      EnvelopeJson.fetchUntilPeriod(
        new FixturePages(s"${a.src}/eia930/$sub", PageRows), PageRows, stop)), row)
    val fuel = pages("fuel", Schemas.fuelTypeDataRow)
    val region = pages("region", Schemas.regionDataRow)
    val inter = pages("interchange", Schemas.interchangeDataRow)
    val (ba, energy) = tr.span("sources.parse_build")((
      CsvSources.balancingAuthorities(spark, s"${a.src}/eia930/ba.csv"),
      CsvSources.energySources(spark, s"${a.src}/eia930/energy.csv")))
    load(tr, tr.span("pipelines.transform_build")(
      Eia930Pipeline.transform(fuel, region, inter, ba, energy, cutoff)), a)
  }

  private def eia7a(spark: SparkSession, a: PipelineApps.Args, tr: Tracer): Unit = {
    val quarter = Eia7aPipeline.quarterLabelFor(a.runDate, monthsAgo = 6)
    def pages(sub: String, row: StructType) = parse(spark, tr, fetch(tr)(
      EnvelopeJson.fetchWhilePeriodEquals(
        new FixturePages(s"${a.src}/eia7a/$sub", PageRows), PageRows, quarter)), row)
    val customs = pages("customs", Schemas.coalImportsExportsRow)
    val mine = pages("mine", Schemas.coalShipmentReceiptsRow)
    load(tr, tr.span("pipelines.transform_build")(
      Eia7aPipeline.transform(customs, mine, quarter)), a)
  }

  private def eia814(spark: SparkSession, a: PipelineApps.Args, tr: Tracer): Unit = {
    val oil = parse(spark, tr, fetch(tr)(EnvelopeJson.fetchUntilEmpty(
      new FixturePages(s"${a.src}/eia814", PageRows), PageRows)), Schemas.crudeOilImportsRow)
    load(tr, tr.span("pipelines.transform_build")(Eia814Pipeline.transform(oil)), a)
  }

  private def openMeteo(spark: SparkSession, a: PipelineApps.Args, tr: Tracer): Unit = {
    val bodies = fetch(tr) {
      val dir = java.nio.file.Paths.get(s"${a.src}/openmeteo")
      val s = java.nio.file.Files.list(dir)
      val files = try s.iterator().asScala.map(_.toString).toSeq finally s.close()
      files.filter(_.endsWith(".json")).sorted
        .map(p => java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
    }
    val (rows, coords) = tr.span("sources.parse_build")((
      OpenMeteoSource.parseResponses(spark, bodies),
      CsvSources.coordinates(spark, s"${a.src}/openmeteo/coords.csv")))
    load(tr, tr.span("pipelines.transform_build")(
      OpenMeteoPipeline.transform(rows, coords)), a)
  }

  // ---- output checks ----

  /** dir -> table -> run date -> (rows, hash folds), in one Spark job. */
  private def summary(spark: SparkSession, dirs: Seq[String]) = {
    val h = Main.hashByKey(for (d <- dirs; t <- tables)
      yield s"$d/$t" -> spark.read.parquet(s"$d/$t"), "run_date")
    dirs.map(d => d -> tables.map(t => t -> h(s"$d/$t")).toMap).toMap
  }

  override def check(spark: SparkSession, pass: Int,
                     traced: Option[Int]): (Int, Seq[String]) = {
    val failures = Seq.newBuilder[String]
    // idempotent partition overwrite: re-running a loaded date leaves its
    // partitions as one load of it left them (the warm-up's, in its own
    // directory) and the other dates' rows in place
    runDate(spark, rerunDate, out(pass), Tracer.off)
    val sums = summary(spark, Seq(out(pass), s"$work/warm") ++ traced.map(out))
    val after = sums(out(pass))
    dates.foreach { d =>
      val want = meta.get("expected").get(d)
      def rows(t: String) = after(t).get(d).map(_._1).getOrElse(0L)
      val bad = tables.filter(t => rows(t) != want.get(t).asLong)
      if (bad.nonEmpty) failures += s"$d row counts differ from the generator's in " +
        bad.map(t => s"$t (${rows(t)} vs ${want.get(t).asLong})").mkString(", ")
    }
    val fresh = sums(s"$work/warm")
    val moved = tables.filter(t => after(t).get(rerunDate) != fresh(t).get(rerunDate))
    if (moved.nonEmpty) failures += s"re-run of $rerunDate changed ${moved.mkString(", ")}"
    // the traced pass's composed apps wrote what PipelineApps.run* wrote
    traced.foreach { tp =>
      val differ = tables.filter(t => sums(out(tp))(t) != after(t))
      if (differ.nonEmpty)
        failures += s"composed apps differ from PipelineApps.run* in ${differ.mkString(", ")}"
    }
    (dates.size + 1 + traced.size, failures.result())
  }

  override def traceFacts(spark: SparkSession, pass: Int): Map[String, Any] = {
    val (files, bytes) = Main.filesUnder(out(pass))
    Map(
      "pages_fetched" -> pagesFetched.get,
      "page_rows_fetched" -> dates.map(d => meta.get("eia_rows_fetched").get(d).asLong).sum,
      "files_written" -> files,
      "bytes_written" -> bytes,
      "tasks" -> tasksRun.get,
      "task_attempts" -> attempts.get)
  }
}
