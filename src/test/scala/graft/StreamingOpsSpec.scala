package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.StreamingOps

/** Streaming results must equal the batch operators row-for-row — that is
  * the contract the shared DuckDB oracles rely on.
  */
class StreamingOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Spec.spark

  private val dir = "/root/testdata/sf0.001"

  test("streaming window counts equal batch tumbling counts") {
    val streamed = StreamingOps.windowCounts(spark, dir, "1 hour")
      .collect().map(_.toSeq).toSet
    val batch = EventOps.tumblingCounts(Tables.events(spark, dir), "1 hour")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming exact dedup equals batch dedup") {
    val streamed = StreamingOps.dedupExactStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.TextOps.dedupExact(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming frame dedup equals the batch frame-dedup aggregation") {
    import org.apache.spark.sql.functions.{col, count, hex, lit, md5, min}
    val streamed = StreamingOps.frameDedupStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Multimodal.frameSample(
        graft.operators.Multimodal.mediaFromDocuments(
          Tables.documents(spark, dir)), frameBytes = 64, stride = 2)
      .select(col("media_id"), md5(hex(col("frame"))).as("frame_hash"))
      .groupBy("frame_hash")
      .agg(min(col("media_id")).as("keeper_media_id"),
           count(lit(1)).as("n_copies"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming dedup under the RocksDB state store matches batch") {
    // The scale-path state backend (StreamingOps scale note): HDFS-backed
    // in-memory state OOMs once distinct-key state outgrows executor heap;
    // RocksDB spills to local disk. Same query, same oracle-checked result.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamingOps.dedupExactStream(spark, dir)
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.TextOps.dedupExact(Tables.documents(spark, dir))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("watermark-bounded streaming dedup equals batch distinct") {
    import spark.implicits._
    val streamed = StreamingOps.dedupWithinWatermarkStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.md5($"text").as("content_hash"),
              org.apache.spark.sql.functions.length($"text").cast("long"))
      .distinct().collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming near-dup candidates equal the batch banded-minhash set") {
    val streamed = StreamingOps.minhashCandidatesStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.TextOps
      .minhashCandidates(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming decontamination equals the cap-free batch operator") {
    val streamed = StreamingOps.contaminationStream(spark, dir, minShared = 3)
      .collect().map(_.toSeq).toSet
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.TextOps.contamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        minShared = 3, maxDf = Int.MaxValue) // cap-free, like the stream
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming semantic decontamination equals the batch screen's drop list") {
    import org.apache.spark.sql.functions.col
    val streamed = StreamingOps
      .decontaminateSemanticStream(spark, dir, threshold = 0.4)
      .collect().map(_.toSeq).toSet
    val emb = Tables.embeddings(spark, dir)
    // batch screen restricted to contaminated rows = what the stream
    // keeps state for; max/count agree on every row both emit
    val batch = graft.operators.VectorOps.decontaminateSemantic(
        emb.filter(col("vec_id") % 23 =!= 0),
        emb.filter(col("vec_id") % 23 === 0), threshold = 0.4)
      .filter(col("contaminated"))
      .select("vec_id", "max_bench_sim", "n_bench_hits")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming DSIR scoring equals the batch weights exactly " +
       "(stateless map-literal model = staged-histogram model)") {
    import org.apache.spark.sql.functions.col
    val streamed = StreamingOps.importanceStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val docs = Tables.documents(spark, dir)
    val batch = graft.operators.CorpusOps.dsirWeights(
        docs,
        docs.filter(col("lang") === "en" && col("doc_id") % 7 === 0),
        buckets = 64)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming release gate: batch-equal verdicts, bloom never misses " +
       "a doc the exact screen flags") {
    import org.apache.spark.sql.functions.col
    val streamed = StreamingOps.prepareGateStream(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 11 =!= 0)
    // classifier columns equal the BATCH operator over the gated corpus
    // (the stream applies withQualityClassifier verbatim)
    val batchCls = graft.operators.TextOps.qualityClassifier(
        corpus.filter(graft.operators.TextOps.cleanGate(0.3)))
      .collect().map(_.toSeq).toSet
    val streamCls = streamed.map(r =>
      Seq(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(streamCls == batchCls && streamCls.nonEmpty)
    // bloom soundness (no false negatives): every gated doc the EXACT
    // 13-token screen flags against the benchmark must read bloom hits
    // >= its matched-window count; admit composes keep && bloom-clean
    val exact = graft.operators.TextOps.exactSubstringContamination(
        corpus, docs.filter(col("doc_id") % 11 === 0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byId = streamed.map(r => r.getLong(0) ->
      (r.getLong(6), r.getBoolean(5), r.getBoolean(7))).toMap
    byId.foreach { case (id, (hits, keep, admit)) =>
      assert(hits >= exact.getOrElse(id, 0L),
        s"bloom missed windows for doc $id")
      assert(admit == (keep && hits == 0L), s"admit rule drift for doc $id")
    }
    // the screen fires on this corpus (some doc is bloom-flagged), so the
    // soundness assertion above is not vacuous
    assert(byId.values.exists(_._1 > 0L))
  }

  test("streaming exact-substring decontamination equals the batch gate") {
    val streamed = StreamingOps.exactContaminationStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val docs = Tables.documents(spark, dir)
    import org.apache.spark.sql.functions.col
    val batch = graft.operators.TextOps.exactSubstringContamination(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("bench-side df cap yields a subset of the uncapped contamination") {
    val uncapped = StreamingOps.contaminationStream(spark, dir, minShared = 3)
      .collect().map(_.toSeq).toSet
    val capped = StreamingOps
      .contaminationStream(spark, dir, minShared = 3, benchMaxDf = 1)
      .collect().map(_.toSeq).toSet
    // dropping benchmark-boilerplate shingles can only remove or shrink
    // pairs (n_shared may drop below threshold), never invent them
    val uncappedKeys = uncapped.map(r => (r(0), r(1)))
    assert(capped.forall(r => uncappedKeys.contains((r(0), r(1)))))
  }

  test("capped band state yields a subset of the batch candidate pairs") {
    // maxPerBand bounds hot-band state; dropped pairs are only within
    // oversized groups, so the result must stay a subset — never invent
    val batch = graft.operators.TextOps
      .minhashCandidates(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    val capped = StreamingOps
      .minhashCandidatesStream(spark, dir, maxPerBand = 1)
      .collect().map(_.toSeq).toSet
    assert(capped.subsetOf(batch) && capped.nonEmpty)
  }

  test("declared capped variant over split files equals the batch set") {
    // the declared query's exact shape: multi-file source, one file per
    // trigger, cap above the densest band — cross-batch state must stitch
    // the candidate set back together bit-for-bit
    val batch = graft.operators.TextOps
      .minhashCandidates(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    val streamed = StreamingOps
      .minhashCandidatesStreamCapped(spark, dir, maxPerBand = 64, nFiles = 4)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming winnowing drains to the batch winnowed pair set") {
    // fingerprint selection is stateless per-row; the fp-keyed band-state
    // machine's per-pair emission count must reproduce n_shared_fp across
    // split-file triggers (densest fp df is far under both caps here, so
    // the batch df-cap is non-binding and exact equality holds)
    val streamed = StreamingOps.winnowedPairsStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.TextOps
      .winnowedPairs(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("binding maxPerBand loses exactly the dropped members' later pairs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // identical text → identical signature → the same 4 bands, so all six
    // docs land in one band group; cap=2 retains [1,2] after batch one
    val text = "alpha beta gamma delta epsilon zeta"
    val mem = MemoryStream[(Long, String)]
    val pairs = StreamingOps.minhashCandidatePairs(
      spark, mem.toDF().toDF("doc_id", "text"),
      k = 8, bands = 4, maxPerBand = 2)
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("cap_bind").start()
    try {
      mem.addData((1L, text), (2L, text), (3L, text))
      q.processAllAvailable()
      mem.addData((4L, text), (5L, text), (6L, text))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cap_bind").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.dropTempView("cap_bind")
    val all = (1L to 6L).combinations(2).map(s => (s(0), s(1))).toSet
    // doc 3 was evicted by the cap before batch two arrived: its pairs
    // with later docs — and ONLY those — are lost; in-batch pairs and the
    // retained members' cross-batch pairs all survive
    val lost = Set((3L, 4L), (3L, 5L), (3L, 6L))
    assert(got == all -- lost)
  }

  test("window(ts) key evicts aggregation state; a derived bucket key does not") {
    // the r12 self-review finding behind dedupWindowStreamUpdate's fix:
    // eviction exists only when a grouping expression carries event-time
    // watermark METADATA. Prove it at runtime on both shapes — the
    // window(ts) form removes state rows once the watermark passes, the
    // unix_micros-derived long form never removes any.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def evictedRows(timeKey: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column): Long = {
      val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
      val src = mem.toDF().toDF("ts", "user_id", "event_type")
        .withWatermark("ts", "1 minute")
      val agg = src.groupBy(col("user_id"), col("event_type"), timeKey(src))
        .agg(count(lit(1)).as("n"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-evict-")
      def deleteRec(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec)
        f.delete(): Unit
      }
      val q = agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .format("noop").start()
      try {
        def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
        mem.addData((ts(1), 1L, "a")); q.processAllAvailable()
        mem.addData((ts(2), 1L, "a")); q.processAllAvailable() // watermark → 01:59
        mem.addData((ts(3), 1L, "a")); q.processAllAvailable() // hour-1 state evictable
        mem.addData((ts(4), 1L, "a")); q.processAllAvailable()
        q.recentProgress.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      } finally {
        q.stop()
        deleteRec(ckpt.toFile) // no checkpoint-tree leak per run
      }
    }
    val windowed = evictedRows(_ => window(col("ts"), "5 minutes"))
    val derived = evictedRows(_ =>
      expr("unix_micros(ts) div 300000000").as("bucket"))
    assert(windowed > 0,
      s"window(ts) grouping must evict watermark-expired state (got $windowed)")
    assert(derived == 0,
      s"derived-long grouping must show the defect: no eviction (got $derived)")
  }

  test("streaming decontamination with a binding bench cap matches its oracle shape") {
    // bench-capped stream = uncapped stream minus the contribution of
    // shingles shared by > cap benchmark docs; recompute that expectation
    // from the batch side and require exact equality (not just subset)
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps.{shingles, tokens}
    val docs = Tables.documents(spark, dir)
    val benchAll = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_doc_id"),
              explode(shingles(tokens(col("text")), 3)).as("sh"))
      .distinct()
    val cap = 1
    val keep = benchAll.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("sh")
    val expected = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        explode(array_distinct(shingles(tokens(col("text")), 3))).as("sh"))
      .join(benchAll.join(keep, Seq("sh")), Seq("sh"))
      .groupBy("doc_id", "bench_doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .collect().map(_.toSeq).toSet
    val streamed = StreamingOps
      .contaminationStream(spark, dir, minShared = 3, benchMaxDf = cap)
      .collect().map(_.toSeq).toSet
    assert(streamed == expected && streamed.nonEmpty)
  }

  test("streaming mix report equals the batch dataset-card table") {
    val streamed = StreamingOps.mixReportStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.CorpusOps
      .mixReport(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming vocabulary equals the batch top-N") {
    val streamed = StreamingOps.vocabularyStream(spark, dir, 50)
      .collect().map(_.toSeq)
    val batch = graft.operators.TextOps
      .vocabulary(Tables.documents(spark, dir), 50)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq && streamed.nonEmpty)
  }

  test("streaming anomaly-mad histogram equals the batch sketch") {
    val streamed = StreamingOps.anomalyMadHistStream(spark, dir, 3)
      .orderBy("event_type").collect().map(_.toSeq)
    val batch = EventOps.anomalyMadHist(Tables.events(spark, dir), 3)
      .orderBy("event_type").collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq && streamed.nonEmpty)
  }

  test("streaming zipf slope equals the batch fixed-point fit") {
    val streamed = StreamingOps.zipfSlopeStream(spark, dir, 128)
      .collect().map(_.toSeq)
    val batch = graft.operators.TextOps
      .zipfSlope(Tables.documents(spark, dir), 128)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq && streamed.nonEmpty)
  }

  test("stream-stream interval join equals the batch range join") {
    // both sides land across four triggers in arbitrary event-time order:
    // the buffered-state matching, not single-batch colocation, produces
    // the pairs
    val streamed = StreamingOps.rangeJoinStream(spark, dir, 10)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.nearbyEventCounts(Tables.events(spark, dir), 10)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("outer stream-stream join emits the unmatched row once the watermark passes") {
    // left-outer semantics are watermark-DRIVEN: the null-padded row for
    // an unmatched left row can only emit when the watermark proves no
    // right match can still arrive. A sentinel event far in the future
    // advances the watermark; before it, the unmatched row must NOT have
    // been emitted.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lMem = MemoryStream[(Long, Long)] // (id, ts_us)
    val rMem = MemoryStream[(Long, Long)]
    def side(m: MemoryStream[(Long, Long)], ids: String, ts: String) =
      m.toDF().toDF(ids, ts)
        .withColumn(ts + "_t", timestamp_micros(col(ts)))
        .withWatermark(ts + "_t", "0 seconds")
    val joined = side(lMem, "l_id", "l_ts").join(
      side(rMem, "r_id", "r_ts"),
      expr("l_id = r_id AND r_ts_t BETWEEN l_ts_t - INTERVAL 1 MINUTE " +
           "AND l_ts_t + INTERVAL 1 MINUTE"),
      "leftOuter")
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("outer_join").start()
    try {
      val m = 60L * 1000000L
      lMem.addData((1L, 10 * m), (2L, 10 * m)) // two left rows at t=10m
      rMem.addData((1L, 10 * m))               // match for 1, none for 2
      q.processAllAvailable()
      val early = spark.table("outer_join")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      // row 2 is unmatched but the watermark hasn't passed its window:
      // no null emission yet
      assert(early == Set((1L, Some(1L))))
      // sentinel at t=1h on BOTH sides pushes the global watermark past
      // 10m + 1m on the next trigger; row 2's null row must now emit
      lMem.addData((99L, 60 * m)); rMem.addData((98L, 60 * m))
      q.processAllAvailable()
      // watermark advances at trigger START; one more empty trigger lets
      // the state eviction run with the new watermark
      lMem.addData((97L, 60 * m))
      q.processAllAvailable()
      val late = spark.table("outer_join")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(late.contains((2L, None)))
    } finally { q.stop(); spark.catalog.dropTempView("outer_join") }
  }

  test("stateful streaming sessionize equals batch sessionize") {
    // through the split-file source: users' events span several triggers
    // in arbitrary time order, so this asserts the cross-batch interval
    // merge, not just single-batch sorting
    val streamed = StreamingOps.sessionizeStateful(spark, dir, 30)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.sessionStats(Tables.events(spark, dir), 30)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  private def runSessionBatches(gapUs: Long,
                                batches: Seq[Seq[(Long, Long)]]): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val sessions = StreamingOps.sessionizeUpdates(spark,
      mem.toDF().toDF("user_id", "ts_us").as[StreamingOps.Ev], gapUs)
    val q = sessions.writeStream.outputMode("update").format("memory")
      .queryName("sess_state").start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    // latest cumulative emission per user = the max-n_events row
    val out = spark.table("sess_state")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._2).maxBy(_._2) }
    spark.catalog.dropTempView("sess_state")
    out
  }

  test("session state merges across triggers: span, bridge, out-of-order") {
    val m = 60L * 1000000L // 1-minute gap in µs
    val got = runSessionBatches(m, Seq(
      // batch 1                            batch 2
      Seq((1L, 0L), (1L, 30L * 1000000L)),  // u1: session continues at 45s,
      Seq((1L, 45L * 1000000L), (1L, 10 * m), // then a new session at 10m
          (2L, 0L), (2L, 2 * m), (2L, m))   // u2 arrives whole in batch 2:
                                            // event at 1m BRIDGES 0 and 2m
    ))
    // u1: {0,30s,45s} is one session (gaps ≤ 1m), 10m is another
    assert(got(1L) == ((2L, 4L, 3L)))
    // u2: one bridged session of 3 (gap exactly 60s does NOT break — > gap)
    assert(got(2L) == ((1L, 3L, 3L)))
  }

  test("out-of-order arrival across triggers cannot double-count sessions") {
    val m = 60L * 1000000L
    // batch 2 delivers events EARLIER than batch 1's — and one of them
    // bridges batch 1's two sessions into one
    val got = runSessionBatches(m, Seq(
      Seq((7L, 0L), (7L, 3 * m)),       // two sessions: gap 3m > 1m
      Seq((7L, m), (7L, 2 * m))         // 1m and 2m arrive late: chain
                                        // 0→1m→2m→3m has every gap = 1m
    ))
    assert(got(7L) == ((1L, 4L, 4L)))
    // the stateless version emitted one row per trigger and no merge:
    // it would report 2 sessions from batch 1 and 1 more from batch 2
  }

  test("stateful sessionize under RocksDB matches batch (state round-trips)") {
    // the interval-list state (parallel Long arrays) must survive RocksDB
    // serialization between triggers — the multi-trigger split source
    // makes every user's state actually round-trip at least once
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamingOps.sessionizeStateful(spark, dir, 30)
        .collect().map(_.toSeq).toSet
      val batch = EventOps.sessionStats(Tables.events(spark, dir), 30)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionize state is order-independent: permuted batches agree") {
    val m = 60L * 1000000L
    val events = Seq((5L, 0L), (5L, m / 2), (5L, 5 * m), (5L, 6 * m),
                     (5L, 20 * m), (6L, 0L), (6L, 10 * m))
    val whole = runSessionBatches(m, Seq(events))
    val split = runSessionBatches(m,
      Seq(Seq(events(4), events(1)), Seq(events(6), events(0)),
          Seq(events(3), events(5)), Seq(events(2))))
    assert(whole == split && whole(5L)._1 == 3L)
  }

  test("evictClosed folds watermark-passed sessions into scalar counters") {
    val m = 60L * 1000000L
    val st = StreamingOps.SessState(
      starts = Array(0L, 10 * m, 100 * m),
      ends   = Array(m, 11 * m, 101 * m),
      counts = Array(3L, 5L, 2L))
    // cutoff past the first two sessions: arrays shrink to the open tail,
    // counters carry their sufficient statistics
    val ev = StreamingOps.evictClosed(st, 50 * m)
    assert(ev.starts.toSeq == Seq(100 * m) && ev.counts.toSeq == Seq(2L))
    assert(ev.nClosed == 2L && ev.closedEvents == 8L &&
           ev.maxClosedEvents == 5L)
    // cumulative emission math is identical before and after eviction
    assert(ev.nClosed + ev.counts.length == st.counts.length)
    assert(ev.closedEvents + ev.counts.sum == st.counts.sum)
    assert(math.max(ev.maxClosedEvents, ev.counts.max) == st.counts.max)
    // cutoff before everything: no-op; counters accumulate across calls
    assert(StreamingOps.evictClosed(st, 0L) eq st)
    val again = StreamingOps.evictClosed(ev, 200 * m)
    assert(again.starts.isEmpty && again.nClosed == 3L &&
           again.closedEvents == 10L && again.maxClosedEvents == 5L)
  }

  test("watermark eviction: emissions stay cumulative after sessions close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = 60L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    // the watermarked column must SURVIVE to the stateful operator (Spark
    // refuses getCurrentWatermarkMs otherwise); as[Ev] tolerates the extra
    // ts column
    val ev = mem.toDF().toDF("user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[StreamingOps.Ev]
    val sessions = StreamingOps.sessionizeUpdates(spark, ev, m,
      watermarkEviction = true)
    val q = sessions.writeStream.outputMode("update").format("memory")
      .queryName("sess_evict").start()
    try {
      // batch 1: an early session {0, 30s} and a far-future event at 100m
      // that drives the watermark past the early session's horizon
      mem.addData((1L, 0L), (1L, 30 * 1000000L), (1L, 100 * m))
      q.processAllAvailable()
      // batch 2 (watermark now 100m; the {0,30s} session is closed state):
      // one in-time event extends the open session; one late event at 50m
      // is dropped by the watermark filter before the stateful operator
      mem.addData((1L, 100 * m + 30 * 1000000L), (1L, 50 * m))
      q.processAllAvailable()
      val last = spark.table("sess_evict")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .maxBy(_._2)
      // cumulative across the evicted session: 2 sessions, 4 events
      // (late 50m event excluded), max session size 2 — the first
      // session's contribution can only come from the closed counters
      assert(last == ((2L, 4L, 2L)))
    } finally { q.stop(); spark.catalog.dropTempView("sess_evict") }
  }

  test("streaming gap histogram equals batch gap histogram") {
    val streamed = StreamingOps.gapHistStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.gapHistogram(Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("gap state: late arrival across triggers splits a live gap exactly") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val rows = StreamingOps.gapHistUpdates(spark,
      mem.toDF().toDF("user_id", "ts_us").as[StreamingOps.Ev])
    val q = rows.writeStream.outputMode("update").format("memory")
      .queryName("gap_state").start()
    try {
      // batch 1: gap of 1_000_000 µs (7 digits)
      mem.addData((1L, 0L), (1L, 1000000L))
      q.processAllAvailable()
      // batch 2: a LATE event at 500_000 splits the 7-digit gap into two
      // 6-digit gaps — the case counters alone cannot maintain
      mem.addData((1L, 500000L))
      q.processAllAvailable()
      val last = spark.table("gap_state").collect()
        .map(r => (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .maxBy(_._1)
      assert(last == ((2L, Seq(6L), Seq(2L))))
    } finally { q.stop(); spark.catalog.dropTempView("gap_state") }
  }

  test("gap state: watermark eviction folds closed gaps, drops late rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = 60L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    // the watermarked column must SURVIVE to the stateful operator (Spark
    // refuses getCurrentWatermarkMs otherwise); as[Ev] tolerates it
    val rows = StreamingOps.gapHistUpdates(spark,
      mem.toDF().toDF("user_id", "ts_us")
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.col("ts_us")))
        .withWatermark("ts", "1 minute")
        .as[StreamingOps.Ev],
      watermarkEviction = true)
    val q = rows.writeStream.outputMode("update").format("memory")
      .queryName("gap_evict").start()
    try {
      // batch 1: gaps 30s (8 digits) and ~99.5m; watermark advances to 99m
      mem.addData((1L, 0L), (1L, 30 * 1000000L), (1L, 100 * m))
      q.processAllAvailable()
      // batch 2: in-time event adds a 30s gap; the 50m event is below the
      // watermark and must be DROPPED (its insertion would split the
      // already-folded 99.5m gap)
      mem.addData((1L, 100 * m + 30 * 1000000L), (1L, 50 * m))
      q.processAllAvailable()
      val last = spark.table("gap_evict").collect()
        .map(r => (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .maxBy(_._1)
      // gaps: 30s (8 digits) ×2 and 99.5m (10 digits) ×1
      assert(last == ((3L, Seq(8L, 10L), Seq(2L, 1L))))
    } finally { q.stop(); spark.catalog.dropTempView("gap_evict") }
  }

  test("streaming session-length histogram equals batch histogram") {
    val streamed = StreamingOps.sessionLengthHistStream(spark, dir, 30)
      .collect().map(_.toSeq).toSet
    val batch = EventOps
      .sessionLengthHistogram(Tables.events(spark, dir), 30)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("session-hist state: a late bridge merges two sessions' sizes") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = 60L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    val rows = StreamingOps.sessionLengthUpdates(spark,
      mem.toDF().toDF("user_id", "ts_us").as[StreamingOps.Ev], m)
    val q = rows.writeStream.outputMode("update").format("memory")
      .queryName("shist_state").start()
    try {
      // batch 1: two singleton sessions 2m apart (gap 1m breaks at >1m)
      mem.addData((1L, 0L), (1L, 2 * m))
      q.processAllAvailable()
      // batch 2: an event at 1m bridges them into ONE session of 3 —
      // the histogram must move 2×size-1 to 1×size-3, which a
      // session-count selector would mis-order (count DROPS 2 → 1)
      mem.addData((1L, m))
      q.processAllAvailable()
      val last = spark.table("shist_state").collect()
        .map(r => (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .maxBy(_._1)
      assert(last == ((3L, Seq(3L), Seq(1L))))
    } finally { q.stop(); spark.catalog.dropTempView("shist_state") }
  }

  test("session-hist state: eviction folds closed sizes, drops late rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = 60L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    val rows = StreamingOps.sessionLengthUpdates(spark,
      mem.toDF().toDF("user_id", "ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .as[StreamingOps.Ev],
      m, watermarkEviction = true)
    val q = rows.writeStream.outputMode("update").format("memory")
      .queryName("shist_evict").start()
    try {
      // batch 1: session {0, 30s} plus a far-future event pushing the
      // watermark to 100m — the early session closes into the histogram
      mem.addData((1L, 0L), (1L, 30 * 1000000L), (1L, 100 * m))
      q.processAllAvailable()
      // batch 2: in-time event joins the open session; event at 50m is
      // late (below watermark) and must be dropped, not start a session
      mem.addData((1L, 100 * m + 30 * 1000000L), (1L, 50 * m))
      q.processAllAvailable()
      val last = spark.table("shist_evict").collect()
        .map(r => (r.getLong(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .maxBy(_._1)
      // sizes: the closed {0,30s} session (2) + the open {100m,100m30s}
      // session (2) → histogram {2 → 2} over 4 absorbed events
      assert(last == ((4L, Seq(2L), Seq(2L))))
    } finally { q.stop(); spark.catalog.dropTempView("shist_evict") }
  }

  test("streaming funnel equals batch funnel") {
    val steps = Seq("view", "click", "purchase")
    val streamed = StreamingOps.funnelStream(spark, dir, steps)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.funnel(Tables.events(spark, dir), steps)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("funnel state: step minima fold commutatively across triggers") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)]
    val rows = StreamingOps.funnelUpdates(spark,
      mem.toDF().toDF("user_id", "ts_us", "event_type")
        .as[StreamingOps.EvT],
      Seq("view", "click", "purchase"))
    val q = rows.writeStream.outputMode("update").format("memory")
      .queryName("funnel_state").start()
    try {
      // steps arrive REVERSED across triggers: purchase first, then
      // click, then two views (the later view must NOT raise the min)
      mem.addData((1L, 300L, "purchase")); q.processAllAvailable()
      mem.addData((1L, 200L, "click")); q.processAllAvailable()
      mem.addData((1L, 100L, "view"), (1L, 150L, "view"))
      q.processAllAvailable()
      val last = spark.table("funnel_state").collect()
        .map(r => (r.getLong(1), r.getSeq[Long](2))).maxBy(_._1)
      assert(last == ((4L, Seq(100L, 200L, 300L))))
    } finally { q.stop(); spark.catalog.dropTempView("funnel_state") }
  }

  test("streaming retention equals batch retention") {
    val streamed = StreamingOps.retentionStream(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    val ev = Tables.events(spark, dir)
    import org.apache.spark.sql.functions._
    val days = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val batch = days.join(cohort, Seq("user_id"))
      .withColumn("week_offset",
        expr("datediff(day, cohort_day) div 7").cast("long"))
      .groupBy("cohort_day", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("retention state: a late earlier day REASSIGNS the user's cohort") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Int)]
    val rows = StreamingOps.retentionUpdates(spark,
      mem.toDF().toDF("user_id", "epoch_day").as[StreamingOps.EvD])
    val q = rows.writeStream.outputMode("update").format("memory")
      .queryName("ret_state").start()
    try {
      // batch 1: days 14 and 21 → cohort 14, offsets {0, 1}
      mem.addData((1L, 14), (1L, 21)); q.processAllAvailable()
      // batch 2: late day 0 arrives → cohort moves to 0, offsets {0, 2, 3}
      mem.addData((1L, 0)); q.processAllAvailable()
      val last = spark.table("ret_state").collect()
        .map(r => (r.getLong(1), r.getInt(2), r.getSeq[Long](3)))
        .maxBy(_._1)
      assert(last == ((3L, 0, Seq(0L, 2L, 3L))))
    } finally { q.stop(); spark.catalog.dropTempView("ret_state") }
  }

  test("streaming sliding windows equal batch sliding counts") {
    val streamed = StreamingOps
      .slidingWindowCounts(spark, dir, "1 hour", "30 minutes")
      .collect().map(_.toSeq).toSet
    val batch = EventOps
      .slidingCounts(Tables.events(spark, dir), "1 hour", "30 minutes")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming json rollup equals batch json rollup") {
    val streamed = StreamingOps.jsonPropsAggStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.jsonPropsAgg(Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming key-skew report equals the batch report") {
    val streamed = StreamingOps.keySkewStream(spark, dir, "user_id", 20)
      .collect().map(_.toSeq).toSeq
    val batch = EventOps.keySkewReport(Tables.events(spark, dir), "user_id", 20)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming windowed-dedup audit equals the batch audit") {
    val streamed = StreamingOps.dedupWindowStream(spark, dir, 5)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.dedupWindow(Tables.events(spark, dir), 5)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming histogram top-percent equals the batch sketch") {
    val streamed = StreamingOps.topPercentHistStream(spark, dir, 1)
      .collect().map(_.toSeq).toSet
    val batch = EventOps.topPercentHist(Tables.events(spark, dir), 1)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming length quantiles equal the batch exact-rank picks") {
    val streamed = StreamingOps.lengthQuantilesStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.TextOps
      .lengthQuantiles(Tables.documents(spark, dir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming frame near-dedup equals the batch pair set") {
    val streamed = StreamingOps.frameNearDupStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("multimodal_frame_near_dedup")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming caption match drains to the batch per-media verdict " +
       "(both halves stateless stream-static joins)") {
    val streamed = StreamingOps.captionMatchStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("multimodal_caption_match")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("update-mode variants equal their complete-mode twins") {
    // the three deployment variants: same aggregate, delta sink instead of
    // full-table re-emission — results must be identical
    for ((name, twin) <- Seq(
      "docs_stream_mix_report_update" -> "docs_stream_mix_report",
      "events_stream_key_skew_update" -> "events_stream_key_skew",
      "docs_stream_vocab_update" -> "docs_stream_vocab",
      "events_stream_json_agg_update" -> "events_stream_json_agg",
      "docs_stream_length_quantiles_update" -> "docs_stream_length_quantiles",
      "events_stream_dedup_window_update" -> "events_stream_dedup_window")) {
      val update = SparkEntry.queries(name)(spark, dir)
        .collect().map(_.toSeq).toSet
      val complete = SparkEntry.queries(twin)(spark, dir)
        .collect().map(_.toSeq).toSet
      assert(update == complete && update.nonEmpty, name)
    }
  }

  test("live mix solve equals the batch waterfilling plan") {
    // no complete-mode twin to compare against — the gate is the batch
    // solver itself (shared post-drain code, shared DuckDB oracle)
    val live = StreamingOps.mixSolveStreamUpdate(spark, dir,
        budgetPct = 120, maxEpochsPct = 122)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.CorpusOps.mixSolve(
        Tables.documents(spark, dir), budgetPct = 120, maxEpochsPct = 122)
      .collect().map(_.toSeq).toSet
    assert(live == batch && live.nonEmpty)
  }

  test("streaming contamination report equals the batch attribution " +
       "(stateless hit stream, shared post-drain aggregation)") {
    import org.apache.spark.sql.functions.{col, expr}
    val live = StreamingOps.exactContaminationReportStream(spark, dir)
      .collect().map(_.toSeq).toSet
    val docs = Tables.documents(spark, dir)
    val batch = graft.operators.TextOps.exactContaminationReport(
        docs.filter(col("doc_id") % 11 =!= 0),
        docs.filter(col("doc_id") % 11 === 0)
          .withColumn("suite",
            expr("concat('suite_', CAST((doc_id div 11) % 3 AS STRING))")))
      .collect().map(_.toSeq).toSet
    assert(live == batch && live.nonEmpty)
  }

  test("update-mode delta log emits O(changed keys), not O(all keys)") {
    // the sf0.001 corpus's 31-token vocabulary appears in EVERY trigger
    // (every key changes every trigger — delta == complete there), so the
    // O(changed keys) claim needs a source whose triggers touch DISJOINT
    // keys: three one-file micro-batches with controlled token overlap
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upd_delta_")
    val streamDir = base.resolve("in")
    java.nio.file.Files.createDirectories(streamDir)
    def writeOne(i: Int, text: String): Unit = {
      val tmp = base.resolve(s"tmp$i").toString
      Seq((i.toLong, text)).toDF("doc_id", "text")
        .coalesce(1).write.parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, streamDir.resolve(s"f$i.parquet"))
    }
    // per-file distinct tokens: {a,b} then {b,c} then {d} — only b repeats
    writeOne(0, "a a b"); writeOne(1, "b c"); writeOne(2, "d")
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(streamDir.toString)
    val agg = stream
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val log = StreamingOps.runUpdatesToDeltaLog(spark, agg)
      .localCheckpoint(true)
    val nBatches = log.select("batch_id").distinct().count()
    val nKeys = log.select("token").distinct().count()
    val emitted = log.count()
    assert(nBatches == 3, s"nBatches=$nBatches")
    assert(nKeys == 4)
    // sink volume = Σ per-trigger CHANGED keys (2 + 2 + 1 = 5), not the
    // Complete-mode nBatches × nKeys = 12 full-table re-emission
    assert(emitted == 5,
      s"emitted=$emitted batches=$nBatches keys=$nKeys")
    // latest-wins reduction = the exact final counts
    val reduced = StreamingOps.latestPerKey(log, Seq("token"))
      .as[(String, Long)].collect().toMap
    assert(reduced == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
  }

  test("every drain restores the session conf and removes its scratch " +
       "dir, whether the stream finishes or throws") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sinks: Seq[(String, DataFrame => DataFrame)] = Seq(
      "memory" -> (df => StreamingOps.runToTable(spark, df,
        OutputMode.Append(), largeState = true)),
      "delta log" -> (df => StreamingOps.runUpdatesToDeltaLog(spark, df)),
      "files" -> (df => StreamingOps.runAppendToFiles(spark, df)))
    // every key a drain overrides; a session value (11) the stream value
    // (min(8, session)) differs from, so a missed restore shows
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Set[String] =
      Option(tmp.listFiles()).toSeq.flatten.map(_.getName)
        .filter(_.startsWith(StreamingOps.DrainScratchPrefix)).toSet
    // one batch of ids; id -1 makes that batch throw mid-drain
    def stream(ids: Long*): DataFrame = {
      val mem = MemoryStream[Long]
      mem.addData(ids)
      mem.toDF().select(when(col("value") < 0, raise_error(lit("boom")))
        .otherwise(col("value")).as("id"))
    }
    val session = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "11")
    try {
      val conf = keys.map(spark.conf.getOption)
      assert(conf.head.contains("11"))
      for ((sink, drain) <- sinks) {
        val before = scratchDirs()
        val got = drain(stream(1L, 2L, 3L)).select("id").as[Long]
          .collect().toSet
        assert(got == Set(1L, 2L, 3L), sink)
        assert(keys.map(spark.conf.getOption) == conf, s"$sink: clean run")
        assert(scratchDirs() -- before == Set.empty, s"$sink: clean run")

        val err = intercept[Exception](drain(stream(1L, -1L)))
        assert(Iterator.iterate[Throwable](err)(_.getCause)
          .takeWhile(_ != null).exists(e =>
            Option(e.getMessage).exists(_.contains("boom"))), sink)
        assert(keys.map(spark.conf.getOption) == conf, s"$sink: failed run")
        assert(scratchDirs() -- before == Set.empty, s"$sink: failed run")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", session)
  }
}
