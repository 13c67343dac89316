package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query frames: a fixed set of `SparkEntry.queries` frames over the
  * committed sf0.01 tables, run one after another in a seeded order. The
  * frame set is the operation whose latency is sampled: the frames differ
  * too much for a median over them to mean anything, so each frame is an
  * attempted operation of its own, counted for failures, and its time is a
  * per-layer metric. A frame is built (`queries.build`: the frame function, lazy plan
  * construction plus any eager work it does) and then executed under the
  * action `graft.Bench` times with (`queries.execute`:
  * `queryExecution.toRdd.count()`, the frame's own physical plan with every
  * output column materialized).
  *
  * The untimed warm-up writes every frame's result as parquet, with the
  * frames' DuckDB oracle SQL beside them, for the oracle check
  * perfbench/run.py makes after the JVM ends.
  */
final class QueryFrames(input: String, work: String) extends Workload {
  private val meta = Json.read(s"$input/meta.json")
  private val frames = meta.get("frames").elements().asScala.map(_.asText).toSeq
  private val tables = meta.get("tables").asText
  private val queries = graft.SparkEntry.queries
  // (pass, frame) -> rows the action counted
  private val counted = new ConcurrentHashMap[(Int, String), Long]()

  private def dumped(name: String) = s"$work/frames/$name"

  private def build(spark: SparkSession, name: String): DataFrame =
    queries.getOrElse(name, sys.error(s"no frame $name in SparkEntry.queries"))(spark, tables)

  override def warmUp(spark: SparkSession): Unit = {
    frames.foreach { n =>
      val t0 = System.nanoTime()
      build(spark, n).write.mode("overwrite").parquet(dumped(n))
      println(f"warm-up: $n%s dumped in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => frames.contains(n) }
    val w = new java.io.PrintWriter(s"$work/frames/oracle_sql.json")
    try w.println(Json.value(oracle)) finally w.close()
  }

  override def pass(spark: SparkSession, pass: Int, tr: Tracer): Seq[Op] = {
    var each = Seq.empty[Op]
    val set = Op.time {
      each = frames.map { n =>
        Op.time(tr.span(s"frame.$n", op = true) {
          val df = tr.span("queries.build")(build(spark, n))
          counted.put((pass, n), tr.span("queries.execute")(df.queryExecution.toRdd.count()))
        }).copy(sample = false)
      }
    }
    each :+ set
  }

  /** Every pass counted, for every frame, the rows of its dumped result. */
  override def check(spark: SparkSession, pass: Int,
                     traced: Option[Int]): (Int, Seq[String]) = {
    val failures = frames.flatMap { n =>
      val want = spark.read.parquet(dumped(n)).count()
      counted.asScala.collect {
        case ((p, `n`), got) if got != want =>
          s"$n counted $got rows in pass $p, its dumped result has $want"
      }
    }
    (frames.size, failures)
  }

  override def traceFacts(spark: SparkSession, pass: Int): Map[String, Any] =
    Map("frames" -> frames)
}
