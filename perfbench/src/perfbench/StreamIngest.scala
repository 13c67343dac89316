package perfbench

import graft.operators.Dedup
import graft.sources.{Bucketing, Sinks}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, greatest, lit}

/** Exactly-once micro-batch ingest of real documents: each pass seeds a
  * fresh corpus and band index, commits the seeded micro-batches in order
  * through `EventStreams.ingestBatchIdempotentBucketed` (one operation
  * each), then replays one of them under its batch id, as a retried
  * foreachBatch would. Every batch plans its queries anew and reads the
  * committed state that the earlier batches grew.
  *
  * The traced pass composes each commit from the public calls the protocol
  * makes (`Dedup.incrementalNearDupPairs`, `Sinks.overwriteRunPartition`,
  * `Dedup.overwriteBandIndexBatch`) with a span around each, and a check
  * proves the composition commits the same state.
  */
final class StreamIngest(input: String, work: String) extends Workload {
  private val meta = Json.read(s"$input/meta.json")
  private val batches = meta.get("batches").asInt
  private val replayBatch = meta.get("replay_batch").asInt
  // shingle size, Jaccard threshold and bucket count of the ds2 protocol query
  private val N = 3
  private val Threshold = 0.5
  private val Buckets = 8

  @volatile private var lastReplayS = 0.0

  private def stateDir(pass: String) = s"$work/state/$pass"
  private def table(pass: String) = s"perfbench_bands_$pass"

  private def docs(spark: SparkSession, batch: Int) =
    spark.read.parquet(s"$input/docs.parquet")
      .filter(col("batch") === batch).select("doc_id", "text")

  private def seedState(spark: SparkSession, pass: String, corpus: DataFrame): Unit = {
    Bucketing.ensureCleanTable(spark, table(pass))
    Main.deleteTree(stateDir(pass))
    Sinks.overwriteRunPartition(corpus.withColumn("ingest_batch", lit(-1L)),
      s"${stateDir(pass)}/corpus", "ingest_batch")
    // the seed call the streaming protocol documents for its band index
    Dedup.writeBandIndexPartitioned(corpus, "doc_id", "text", N,
      table(pass), nBuckets = Buckets)
  }

  private def commit(spark: SparkSession, pass: String, batch: Int,
                     tr: Tracer = Tracer.off): Unit =
    if (tr.enabled) composedCommit(spark, pass, batch, tr)
    else EventStreams.ingestBatchIdempotentBucketed(docs(spark, batch), batch,
      s"${stateDir(pass)}/corpus", table(pass), Buckets,
      s"${stateDir(pass)}/pairs", "doc_id", "text", N, Threshold)

  /** `ingestBatchIdempotentBucketed` composed from its public calls. */
  private def composedCommit(spark: SparkSession, pass: String, batch: Int,
                             tr: Tracer): Unit = {
    val (corpusPath, pairsPath) = (s"${stateDir(pass)}/corpus", s"${stateDir(pass)}/pairs")
    val b = tr.span("streaming.batch_read")(docs(spark, batch).localCheckpoint(false))
    val corpus = spark.read.parquet(corpusPath).filter(col("ingest_batch") < batch)
    val bands = spark.table(table(pass)).filter(col("ingest_batch") < batch)
    val pairs = tr.span("streaming.pairs")(Dedup.incrementalNearDupPairs(
      b, corpus, bands, "doc_id", "text", N, Threshold).localCheckpoint(false))
    tr.span("streaming.write")(Sinks.overwriteRunPartition(
      pairs.withColumn("ingest_batch", lit(batch.toLong)), pairsPath, "ingest_batch"))
    val losers = pairs.select(greatest(col("ida"), col("idb")).as("loser"))
    val kept = tr.span("streaming.pairs")(b.join(broadcast(losers),
      b("doc_id") === col("loser"), "left_anti").localCheckpoint(false))
    tr.span("streaming.write")(Sinks.overwriteRunPartition(
      kept.withColumn("ingest_batch", lit(batch.toLong)), corpusPath, "ingest_batch"))
    tr.span("streaming.band_index")(Dedup.overwriteBandIndexBatch(
      kept, "doc_id", "text", N, table(pass), Buckets, batch.toLong))
  }

  override def warmUp(spark: SparkSession): Unit = {
    seedState(spark, "warm", docs(spark, -1))
    commit(spark, "warm", 0)
  }

  override def pass(spark: SparkSession, pass: Int, tr: Tracer): Seq[Op] = {
    val p = s"p$pass"
    tr.span("streaming.seed")(seedState(spark, p, docs(spark, -1)))
    val ops = (0 until batches).map(b =>
      Op.time(tr.span("streaming.batch", op = true)(commit(spark, p, b, tr))))
    val replay = Op.time(tr.span("streaming.replay", op = true)(
      commit(spark, p, replayBatch, tr)))
    lastReplayS = replay.seconds
    ops :+ replay.copy(sample = false)
  }

  /** Committed state per batch: documents, pairs and band-index rows. */
  private def stateHash(spark: SparkSession, pass: String) = Main.hashByKey(Seq(
    "corpus" -> spark.read.parquet(s"${stateDir(pass)}/corpus"),
    "pairs" -> spark.read.parquet(s"${stateDir(pass)}/pairs"),
    "bands" -> spark.table(table(pass))), "ingest_batch")

  override def check(spark: SparkSession, pass: Int,
                     traced: Option[Int]): (Int, Seq[String]) = {
    val p = s"p$pass"
    val before = stateHash(spark, p)
    commit(spark, p, replayBatch)
    val after = stateHash(spark, p)
    val failures =
      (if (before != after) Seq(s"replay of batch $replayBatch changed committed state") else Nil) ++
        (if (before("pairs").isEmpty) Seq("no near-duplicate pairs committed") else Nil) ++
        traced.filter(tp => stateHash(spark, s"p$tp") != before).map(_ =>
          "composed commits differ from ingestBatchIdempotentBucketed")
    (1 + traced.size, failures)
  }

  override def traceFacts(spark: SparkSession, pass: Int): Map[String, Any] = {
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val (f1, b1) = Main.filesUnder(stateDir(s"p$pass"))
    val (f2, b2) = Main.filesUnder(s"$warehouse/${table(s"p$pass")}")
    Map(
      "state_files" -> (f1 + f2),
      "state_bytes" -> (b1 + b2),
      "replay_s" -> lastReplayS)
  }
}
