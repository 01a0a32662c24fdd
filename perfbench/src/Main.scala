package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes every raw measurement as
  * JSON; `run.py` turns that into the benchmark's metrics.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *      --work DIR --out FILE --fingerprints FILE
  *      [--record-fingerprints] [--generate-only] [--unreadable K]
  * }}}
  */
object Main {
  private final case class Args(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, cores: Int, work: Path,
                                out: Path, fingerprints: Path,
                                record: Boolean, generateOnly: Boolean,
                                unreadable: Int)

  private def parse(args: Array[String]): Args = {
    val kv = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("cores").toInt, Paths.get(req("work")),
      Paths.get(req("out")), Paths.get(req("fingerprints")),
      args.contains("--record-fingerprints"), args.contains("--generate-only"),
      kv.get("unreadable").map(_.toInt).getOrElse(0))
  }

  val Workloads = Seq("sync_initial", "sync_steady", "corpus_batch",
    "corpus_stream")

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      // graft.Bench's session settings
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def recordedFingerprints(a: Args): Map[String, Fingerprint] =
    if (a.record || !Files.exists(a.fingerprints)) Map.empty
    else Option(Json.read(a.fingerprints).get(a.workload)).map { node =>
      node.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Fingerprint(v.get("rows").asLong, v.get("hash_sum").asLong,
          v.get("hash_xor").asLong)
      }.toMap
    }.getOrElse(Map.empty)

  private def workload(a: Args, spark: SparkSession): Workload = {
    val fps = recordedFingerprints(a)
    a.workload match {
      case "sync_initial" =>
        new SyncBench(spark, a.work, a.seed, steady = false, nMappings = 1,
          perMapping = 150, a.unreadable)
      case "sync_steady" =>
        new SyncBench(spark, a.work, a.seed, steady = true, nMappings = 1,
          perMapping = 400, a.unreadable)
      case "corpus_batch" =>
        new CorpusBatch(spark, a.work, a.seed, nDocs = 500, nEmb = 500, fps)
      case "corpus_stream" =>
        new CorpusStream(spark, a.work, a.seed, nEvents = 20000, nUsers = 300,
          nDocs = 800, nFiles = 3, fps)
      case other => sys.error(s"unknown workload '$other'; one of " +
        Workloads.mkString(", "))
    }
  }

  /** Heap in use after a full GC, read once the run is quiet. The first GC
    * lets Spark's context cleaner see unreachable RDDs and broadcasts; the
    * read waits until their blocks are dropped and listener events are
    * delivered, or blocks being dropped would count or not at random.
    */
  private def liveHeapMib(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    def storageUsed: Long =
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    System.gc()
    org.apache.spark.ListenerBusDrain(sc)
    var prev = -1L
    var cur = storageUsed
    var waits = 0
    while ((cur != prev || waits < 2) && waits < 25) {
      Thread.sleep(200)
      prev = cur
      cur = storageUsed
      waits += 1
    }
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(a)
    val tSession = System.nanoTime()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val wl = workload(a, spark)

    if (a.generateOnly) {
      wl.generate()
      (0 until 4).foreach(wl.prepare)
      Json.write(a.out, Json.obj("inputs" -> wl.inputs))
    } else if (a.record) {
      wl.generate()
      wl.prepare(0)
      val fps = wl.run(0, None).asInstanceOf[Map[String, Fingerprint]]
      Json.write(a.out, Json.obj(a.workload -> Json.obj(
        fps.toSeq.sortBy(_._1).map { case (q, f) => q -> f.toJson }: _*)))
    } else measure(a, spark, wl, tracer, t0, tSession)

    spark.stop()
    System.exit(0)
  }

  private def measure(a: Args, spark: SparkSession, wl: Workload,
                      tracer: Option[Tracer], t0: Long, tSession: Long): Unit = {
    wl.setup()
    val firstOpEpochMs = System.currentTimeMillis()
    val tSetup = System.nanoTime()
    val deadline = tSetup + (a.seconds * 1e9).toLong
    val ops = new java.util.ArrayList[Any]()
    // live heap is read after the first op, not the last: a faster program
    // fits more ops into the window, and must not read as a larger heap
    var heapAfterFirstOp = 0.0
    var i = 0
    // a traced run alternates untraced and traced ops, so it measures its
    // own tracing overhead; it makes at least ops 0 to 2, so a traced op
    // can be compared with an untraced one that is not the first op
    def more: Boolean = i == 0 || (a.trace && i < 3) || System.nanoTime() < deadline
    while (more) {
      wl.prepare(i)
      val traced = tracer.isDefined && i % 2 == 1
      tracer.foreach(_.drainOp())
      val start = System.nanoTime()
      val res =
        try Right(tracer.filter(_ => traced) match {
          case Some(t) => t.span("op")(wl.run(i, Some(t)))
          case None => wl.run(i, None)
        })
        catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - start) / 1e9
      val spans = tracer.map(_.drainOp())
      val detail = tracer.map(t => wl.opDetail(i, Some(t)))
      val failures = res match {
        case Right(r) =>
          try wl.check(i, r)
          catch { case e: Exception => Seq(s"check threw $e") }
        case Left(e) =>
          e.printStackTrace()
          Seq(s"op threw ${e.getClass.getName}: ${e.getMessage}")
      }
      failures.foreach(f => System.err.println(s"[perfbench] op $i FAILED: $f"))
      val op = Json.obj(
        "i" -> i, "traced" -> traced, "wall_s" -> wall,
        "failures" -> Json.arr(failures: _*),
        "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size)
      if (i == 0) heapAfterFirstOp = liveHeapMib(spark)
      if (tracer.isDefined) op.put("heap_mib", liveHeapMib(spark))
      if (traced) {
        op.put("spans", spans.get)
        op.put("detail", detail.get)
      }
      ops.add(op)
      i += 1
    }
    Json.write(a.out, Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "trace" -> a.trace, "seconds" -> a.seconds,
      "inputs" -> wl.inputs,
      "session_s" -> (tSession - t0) / 1e9,
      "setup_in_jvm_s" -> (tSetup - t0) / 1e9,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "live_heap_mib" -> heapAfterFirstOp,
      "ops" -> ops))
  }
}
