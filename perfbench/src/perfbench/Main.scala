package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one timed operation; `sample` ops feed the latency median. */
final case class Op(seconds: Double, error: Option[String], sample: Boolean = true)

object Op {
  def time(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val op = Op((System.nanoTime() - t0) / 1e9, err)
    Progress.note("op_s", op.seconds, err.isEmpty)
    op
  }
}

/** Progress lines (JSON: key, value, ok, epoch ms) written as the run goes,
  * so that perfbench/run.py can still report a run it had to stop at its
  * deadline: with what was measured up to then, and as failed.
  */
object Progress {
  @volatile private var out: java.io.PrintWriter = _

  def open(path: String): Unit = out = new java.io.PrintWriter(path)

  def note(key: String, value: Double, ok: Boolean = true): Unit = synchronized {
    if (out != null) {
      out.println(Json.obj("k" -> key, "v" -> value, "ok" -> ok,
        "t_ms" -> System.currentTimeMillis()))
      out.flush()
    }
  }
}

/** A benchmark workload: fixed work per pass, timed by [[Main]]. */
trait Workload {
  /** Untimed warm-up run right after a session starts. */
  def warmUp(spark: SparkSession): Unit

  /** One pass of fixed work into fresh output locations numbered `pass`. */
  def pass(spark: SparkSession, pass: Int, tr: Tracer): Seq[Op]

  /** Untimed output checks on the outputs of `pass`; `traced` is the
    * traced pass, when there was one. Each check is one attempted operation;
    * returns (checks attempted, failure messages).
    */
  def check(spark: SparkSession, pass: Int, traced: Option[Int]): (Int, Seq[String])

  /** Workload facts for the trace analysis, gathered after the traced pass. */
  def traceFacts(spark: SparkSession, pass: Int): Map[String, Any]
}

/** Runs one workload in this JVM: one cold set-up, a fixed number of timed
  * passes with tracing off, with `--trace 1` a traced pass bracketed by one
  * more untraced pass, then the output checks. Writes raw samples as JSON
  * to `--result` (and the trace beside it); perfbench/run.py turns them into
  * metrics.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --result FILE
  *   --passes P --trace 0|1
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val passes = a("passes").toInt
    val result = a("result")
    Progress.open(s"$result.progress")
    val wl: Workload = a("workload") match {
      case "dag_backfill" => new DagBackfill(a("input"), a("work"))
      case "stream_ingest" => new StreamIngest(a("input"), a("work"))
      case "query_frames" => new QueryFrames(a("input"), a("work"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: the first Spark session of this JVM, then one untimed
    // warm-up operation -- JIT, class loading and codegen are all cold
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    wl.warmUp(spark)
    val setupS = (System.nanoTime() - t0) / 1e9
    Progress.note("setup_s", setupS)
    def timed(pass: Int, tr: Tracer): (Double, Seq[Op]) = {
      Progress.note("pass_start", pass)
      val t0 = System.nanoTime()
      val ops = wl.pass(spark, pass, tr)
      val wall = (System.nanoTime() - t0) / 1e9
      Progress.note("pass_wall_s", wall)
      (wall, ops)
    }

    val untraced = (0 until passes).map(timed(_, Tracer.off))
    val ops = ArrayBuffer.from(untraced.flatMap(_._2))
    val tracedPass = if (a("trace") == "1") Some(passes) else None
    tracedPass.foreach { p =>
      val probe = new SparkProbe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      val tr = new Tracer(true, spark.sparkContext)
      val (cg0, cgMean0, gc0) = (Counters.codegenCompiles, Counters.codegenMeanS, Counters.gcMs)
      val (wall, tops) = timed(p, tr)
      val (cg, gc) = (Counters.codegenCompiles - cg0, Counters.gcMs - gc0)
      val cgMeanS = (cgMean0 + Counters.codegenMeanS) / 2
      probe.quiesce()
      spark.listenerManager.unregister(probe)
      spark.sparkContext.removeSparkListener(probe)
      writeTrace(s"$result.trace.jsonl", probe, tr)
      val facts = wl.traceFacts(spark, p)
      // untraced passes right before and after the traced one bracket it,
      // so the tracing overhead is not confused with JIT warm-up
      val (after, aops) = timed(p + 1, Tracer.off)
      ops ++= tops ++ aops
      write(s"$result.facts.json", Json.value(facts ++ Map(
        "untraced_wall_s" -> Seq(untraced.last._1, after),
        "traced_wall_s" -> wall,
        "codegen_compiles" -> cg,
        "codegen_compile_s" -> cg * cgMeanS,
        "gc_s" -> gc / 1e3,
        "cores" -> spark.sparkContext.defaultParallelism)))
    }

    Progress.note("checks_start", 0)
    val (checks, failures) = wl.check(spark, passes - 1, tracedPass)
    Progress.note("checks_s", 0)
    val errors = ops.flatMap(_.error) ++ failures
    write(result, Json.obj(
      "setup_s" -> Seq(setupS),
      "pass_wall_s" -> untraced.map(_._1),
      "op_s" -> untraced.flatMap(_._2).filter(_.sample).map(_.seconds),
      "attempted" -> (ops.size + checks),
      "failed" -> errors.size,
      "failures" -> errors.take(20)))
    spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try w.println(text) finally w.close()
  }

  private def writeTrace(path: String, probe: SparkProbe, tr: Tracer): Unit = {
    val w = new java.io.PrintWriter(path)
    try {
      tr.spans.asScala.foreach { s =>
        w.println(Json.obj("kind" -> "span", "id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "codegen" -> s.cg, "gc_ms" -> s.gcMs))
      }
      probe.jobs.values.asScala.foreach { j =>
        w.println(Json.obj("kind" -> "job", "id" -> j.id, "span" -> j.group,
          "exec" -> j.exec, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages, "tasks" -> j.tasks.sum, "run_ms" -> j.runMs.sum,
          "cpu_ns" -> j.cpuNs.sum, "shuffle_b" -> j.shuffleB.sum,
          "spill_b" -> j.spillB.sum, "out_records" -> j.outRecords.sum,
          "out_bytes" -> j.outBytes.sum))
      }
      probe.execs.values.asScala.foreach { e =>
        w.println(Json.obj("kind" -> "exec", "id" -> e.id, "span" -> e.group,
          "planning_s" -> Option(probe.planningS.get(e.id)),
          "generate_rows" -> Option(probe.generateRows.get(e.id))))
      }
    } finally w.close()
  }

  /** Order-independent content hash of each named frame per value of
    * `key`: row count plus two folds of every row's xxhash64 over all
    * columns, sorted by name. One Spark job for all the frames.
    */
  def hashByKey(dfs: Seq[(String, DataFrame)],
                key: String): Map[String, Map[String, (Long, Long, Long)]] = {
    val hashed = dfs.map { case (name, df) =>
      df.select(lit(name).as("t"), col(key).cast("string").as("k"),
        xxhash64(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*).as("h"))
    }
    val rows = hashed.reduce(_ union _).groupBy("t", "k")
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), bit_xor(col("h")))
      .collect()
    dfs.map { case (name, _) =>
      name -> rows.filter(_.getString(0) == name)
        .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    }.toMap
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** (files, bytes) of the regular files under `path`, Spark's hidden
    * bookkeeping files (names starting with `.` or `_`) excluded.
    */
  def filesUnder(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
        }.toSeq
        (files.size.toLong, files.map(f => java.nio.file.Files.size(f)).sum)
      } finally s.close()
    }
  }
}
