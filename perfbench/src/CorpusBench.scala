package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming.StreamingOps

/** Row count and order-insensitive content hash of one query result. */
final case class Fingerprint(rows: Long, hashSum: Long, hashXor: Long) {
  def toJson: java.util.Map[String, Any] =
    Json.obj("rows" -> rows, "hash_sum" -> hashSum, "hash_xor" -> hashXor)
}

/** A workload whose op is one pass over a fixed set of named queries, in an
  * order the seed permutes anew for every pass. Each query is forced with
  * a `noop` write; an `Observation` on the same execution takes its
  * fingerprint, which must equal the one recorded for it. Between queries
  * the pass drops cached blocks, as `graft.Bench` does.
  *
  * The tables are generated from a fixed data seed, so the recorded
  * fingerprints hold for every run seed.
  */
abstract class QuerySetBench(spark: SparkSession, seed: Long,
                             recorded: Map[String, Fingerprint])
    extends Workload {
  type Result = Map[String, Fingerprint]

  /** Query name → the call that builds its result frame. */
  protected def queries: Seq[(String, () => DataFrame)]

  private var order: Seq[String] = Nil
  private val passOrders = mutable.ArrayBuffer.empty[Seq[String]]

  def setup(): Unit = {
    generate()
    prepare(-1)
    val warm = run(-1, None)
    if (recorded.nonEmpty) {
      val failures = check(-1, warm)
      if (failures.nonEmpty)
        throw new IllegalStateException("warm-up pass: " + failures.mkString("; "))
    }
  }

  /** Draws pass `i`'s query order. SplittableRandom mixes its seed; the
    * first draw of java.util.Random barely changes between neighbouring
    * seeds, so it would keep one order for every pass.
    */
  def prepare(i: Int): Unit = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val left = mutable.ArrayBuffer.from(queries.map(_._1))
    order = Seq.fill(left.size)(left.remove(r.nextInt(left.size)))
    if (i >= 0) passOrders += order
  }

  def run(i: Int, tracer: Option[Tracer]): Map[String, Fingerprint] = {
    val byName = queries.toMap
    order.map { q =>
      val fp = tracer match {
        case Some(t) => t.span(s"query.$q")(fingerprint(byName(q)()))
        case None => fingerprint(byName(q)())
      }
      purge()
      q -> fp
    }.toMap
  }

  def check(i: Int, got: Map[String, Fingerprint]): Seq[String] =
    queries.map(_._1).flatMap { q =>
      (got.get(q), recorded.get(q)) match {
        case (Some(g), Some(w)) if g == w => None
        case (g, w) => Some(s"$q: fingerprint $g, recorded $w")
      }
    }

  private def fingerprint(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("s"),
        coalesce(bit_xor(h), lit(0L)).as("x"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Fingerprint(m("n").asInstanceOf[Long], m("s").asInstanceOf[Long],
      m("x").asInstanceOf[Long])
  }

  private def purge(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(graft.operators.Barriers.quietUnpersist)
    spark.sharedState.cacheManager.clearCache()
  }

  def inputs: java.util.Map[String, Any] =
    Json.obj("queries" -> Json.arr(queries.map(_._1): _*),
      "pass_orders" -> Json.arr(passOrders.map(o => Json.arr(o: _*)).toSeq: _*))
}

object QuerySetBench {
  /** The data seed: fixed, so recorded fingerprints stay valid. */
  val DataSeed = 20240101L
}

/** `corpus_batch`: two composed corpus queries of `SparkEntry.queries` —
  * the winnowing dedup verdict (fingerprint pairs, connected components,
  * keepers) and the cleaning chain ending in semantic dedup — over
  * generated `documents` and `embeddings`.
  */
final class CorpusBatch(spark: SparkSession, work: Path, seed: Long,
                        nDocs: Int, nEmb: Int,
                        recorded: Map[String, Fingerprint])
    extends QuerySetBench(spark, seed, recorded) {
  private val dir = work.resolve("corpus").toString
  private var digest = ""

  protected val queries: Seq[(String, () => DataFrame)] =
    Seq("dedup_winnowed_drop_list", "pipeline_clean_corpus_semantic").map(q =>
      q -> (() => SparkEntry.queries(q)(spark, dir)))

  def generate(): Unit = {
    Dirs.delete(work.resolve("corpus"))
    val r = new SplittableRandom(QuerySetBench.DataSeed)
    val docs = Gen.documents(nDocs, r)
    val embs = Gen.embeddings(nEmb, r)
    digest = Gen.rowsDigest(docs ++ embs)
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), Gen.DocsSchema)
      .write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(embs, 1),
      Gen.EmbeddingsSchema).write.parquet(s"$dir/embeddings.parquet")
  }

  override def inputs: java.util.Map[String, Any] = {
    val m = super.inputs
    m.put("documents", nDocs); m.put("embeddings", nEmb); m.put("digest", digest)
    m
  }
}

/** `corpus_stream`: stateful `StreamingOps` operators drained from
  * landing directories the benchmark writes, one file per trigger, through
  * the operators' own delta-log and file sinks.
  */
final class CorpusStream(spark: SparkSession, work: Path, seed: Long,
                         nEvents: Int, nUsers: Int, nDocs: Int, nFiles: Int,
                         recorded: Map[String, Fingerprint])
    extends QuerySetBench(spark, seed, recorded) {
  import spark.implicits._
  import StreamingOps.Ev

  private val root = work.resolve("stream")
  private var digest = ""

  private def events: DataFrame =
    spark.readStream.schema(Gen.EventsSchema)
      .option("maxFilesPerTrigger", "1").parquet(root.resolve("events").toString)

  private def docs: DataFrame =
    spark.readStream.schema(Gen.DocsSchema)
      .option("maxFilesPerTrigger", "1").parquet(root.resolve("docs").toString)

  private def latest(log: DataFrame, key: String, fields: String*): DataFrame =
    log.groupBy(key).agg(max(struct(fields.map(col): _*)).as("s"))
      .select(col(key) +: fields.map(f => col(s"s.$f").as(f)): _*)

  private val gapUs = 30L * 60L * 1000000L

  protected val queries: Seq[(String, () => DataFrame)] = Seq(
    "stream_sessionize" -> (() => latest(
      StreamingOps.runUpdatesToDeltaLog(spark, StreamingOps.sessionizeUpdates(
        spark, events.select(col("user_id"),
          unix_micros(col("ts")).as("ts_us")).as[Ev], gapUs)),
      "user_id", "n_events", "n_sessions", "max_session_events")),
    "stream_minhash_pairs" -> (() =>
      StreamingOps.runAppendToFiles(spark, StreamingOps.minhashCandidatePairs(
        spark, docs, k = 8, bands = 4, maxPerBand = 64)).distinct()))

  def generate(): Unit = {
    Dirs.delete(root)
    val r = new SplittableRandom(QuerySetBench.DataSeed)
    val ev = Gen.events(nEvents, nUsers, r)
    val dc = Gen.documents(nDocs, r)
    digest = Gen.rowsDigest(ev ++ dc)
    Gen.writeLanding(spark, root.resolve("events"), Gen.EventsSchema, ev,
      nFiles, "events")
    Gen.writeLanding(spark, root.resolve("docs"), Gen.DocsSchema, dc,
      nFiles, "docs")
  }

  override def inputs: java.util.Map[String, Any] = {
    val m = super.inputs
    m.put("events", nEvents); m.put("users", nUsers); m.put("documents", nDocs)
    m.put("files_per_stream", nFiles); m.put("digest", digest)
    m
  }

  /** Trigger timings and state-store figures of the op's streams. */
  override def opDetail(i: Int, tracer: Option[Tracer]): java.util.Map[String, Any] =
    tracer match {
      case None => Json.obj()
      case Some(t) =>
        val ps = t.drainProgress().map(_.progress)
        val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId))
        def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
                k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        Json.obj("triggers" -> Json.arr(ps.map { p =>
          Json.obj(
            "trigger_ms" -> dur(p, "triggerExecution"),
            "add_batch_ms" -> dur(p, "addBatch"),
            "wal_commit_ms" -> dur(p, "walCommit"),
            "commit_offsets_ms" -> dur(p, "commitOffsets"),
            "planning_ms" -> dur(p, "queryPlanning"),
            "latest_offset_ms" -> dur(p, "latestOffset"),
            "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
        }: _*),
        "state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal).sum,
        "state_mem_bytes" -> last.flatMap(_.stateOperators)
          .map(_.memoryUsedBytes).sum)
    }
}
