package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SyncEngine
import graft.config.{MappingConf, ProviderConf, SyncConfig}
import graft.operators.{CopyExecutor, SyncOps}
import graft.sources.ObjectStoreCatalog

/** A mapping's sync outcome, from `syncAll()` or from the traced replay. */
final case class Report(mappingId: String, synced: Long, skipped: Long,
                        failed: Long, removed: Long)

/** `sync_initial` (steady = false): every op is a cold `syncAll()` of one
  * mapping into an empty target with an empty ledger, reset before the op.
  *
  * `sync_steady` (steady = true): set-up syncs every mapping once; then
  * every op applies a seeded churn batch to each source (untimed) and runs
  * one `syncAll()`, the body of `ContinuousSync`'s ticker.
  *
  * Traced ops replay the cycle phase by phase through the public functions
  * `syncMapping` calls, in its order, with a span around each call.
  */
final class SyncBench(spark: SparkSession, work: Path, seed: Long,
                      steady: Boolean, nMappings: Int, perMapping: Int,
                      unreadable: Int) extends Workload {
  type Result = Seq[Report]

  private val root = work.resolve("sync")
  private val ledgerPath = root.resolve("ledger").toString
  private val config = SyncConfig(
    Seq(ProviderConf("local", "file", root.toUri.toString)),
    (0 until nMappings).map(m =>
      MappingConf("local", s"src$m", "local", s"dst$m")),
    ledgerPath)
  private val engine = new SyncEngine(spark, config)
  private val buckets = (0 until nMappings).map(m =>
    new Bucket(root.resolve(s"src$m")))
  private var expected: Seq[Report] = Nil

  def inputs: java.util.Map[String, Any] = Json.obj(
    "mappings" -> nMappings,
    "objects" -> buckets.map(_.objects.size).sum,
    "bytes" -> buckets.map(_.bytes).sum,
    "digest" -> Gen.hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(buckets.map(_.digest).mkString.getBytes("UTF-8"))))

  /** Writes the source buckets only; no Spark. */
  def generate(): Unit = {
    Dirs.delete(root)
    buckets.zipWithIndex.foreach { case (b, m) =>
      b.populate(perMapping, new SplittableRandom(seed * 1000003L + m))
      b.objects.keys.take(unreadable).toSeq.foreach(b.makeUnreadable)
    }
  }

  /** One cold cycle warms the JIT and, for the ticker, builds the ledger. */
  def setup(): Unit = {
    generate()
    expected = coldReports()
    val failures = check(-1, engine.syncAll().map(toReport))
    if (failures.nonEmpty && unreadable == 0)
      throw new IllegalStateException("set-up sync failed: " + failures.mkString("; "))
  }

  private def coldReports(): Seq[Report] =
    config.mappings.zip(buckets).map { case (m, b) =>
      Report(m.mappingId, b.objects.size.toLong, 0L, 0L, 0L)
    }

  def prepare(i: Int): Unit =
    if (!steady) {
      config.mappings.indices.foreach(m => Dirs.delete(root.resolve(s"dst$m")))
      Dirs.delete(root.resolve("ledger"))
      Dirs.delete(root.resolve("ledger.scratch"))
      expected = coldReports()
    } else {
      expected = config.mappings.zip(buckets).zipWithIndex.map {
        case ((m, b), k) =>
          val n = b.objects.size
          val nMod = math.max(1, math.round(n * 0.01).toInt)
          val nAdd = math.max(1, math.round(n * 0.005).toInt)
          val nDel = math.max(1, math.round(n * 0.005).toInt)
          val r = new SplittableRandom((seed * 1000003L + k) * 7919L + i + 2)
          val c = b.churn(i + 2, nMod, nAdd, nDel, r)
          Report(m.mappingId, (c.modified.size + c.added.size).toLong,
            (n - c.modified.size - c.deleted.size).toLong, 0L,
            c.deleted.size.toLong)
      }
    }

  def run(i: Int, tracer: Option[Tracer]): Seq[Report] = tracer match {
    case None => engine.syncAll().map(toReport)
    case Some(t) => config.mappings.map(m => replayMapping(m, t))
  }

  private def toReport(r: engine.MappingReport): Report =
    Report(r.mappingId, r.synced, r.skipped, r.failed, r.orphansRemoved)

  /** Convergence: reports equal the generator's churn, each target equals
    * its source on name and size, and the mapping's ledger partition holds
    * exactly the source names, all `success`, with the source sizes.
    */
  def check(i: Int, reports: Seq[Report]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val got = reports.map(r => r.mappingId -> r).toMap
    expected.foreach { e =>
      got.get(e.mappingId) match {
        case None => errs += s"${e.mappingId}: missing from the sync result"
        case Some(r) if r != e => errs += s"${e.mappingId}: report $r, expected $e"
        case _ =>
      }
    }
    val ledger = ledgerRows()
    config.mappings.zip(buckets).zipWithIndex.foreach { case ((m, b), k) =>
      val want = b.objects.toMap
      val tgt = Dirs.listObjects(root.resolve(s"dst$k"))
      if (tgt != want)
        errs += s"${m.mappingId}: target differs from source on " +
          s"${(tgt.toSet diff want.toSet).size + (want.toSet diff tgt.toSet).size} objects"
      val rows = ledger.getOrElse(m.mappingId, Map.empty)
      if (rows.keySet != want.keySet ||
          rows.exists { case (n, (size, st)) => st != "success" || size != want(n) })
        errs += s"${m.mappingId}: ledger partition differs from source"
    }
    errs.result()
  }

  private def ledgerRows(): Map[String, Map[String, (Long, String)]] =
    if (!Files.exists(root.resolve("ledger"))) Map.empty
    else SyncEngine.readLedger(spark, ledgerPath)
      .select("mapping_id", "object_name", "size", "sync_status")
      .collect()
      .groupBy(_.getString(0))
      .map { case (mid, rs) =>
        mid -> rs.map(r => r.getString(1) -> (r.getLong(2), r.getString(3))).toMap
      }

  /** `SyncEngine.syncMapping` replayed phase by phase. The diff is forced
    * inside its own span (it is cached there anyway), so its cost is not
    * folded into the copy; everything else runs exactly as in the engine.
    */
  private def replayMapping(m: MappingConf, t: Tracer): Report = {
    val srcUri = config.sourceUri(m)
    val dstUri = config.targetUri(m)
    val mid = m.mappingId
    val scratch = config.ledgerPath + ".scratch/" +
      mid.replaceAll("[^A-Za-z0-9._-]", "_")

    val srcCatalog = t.span("sources.scan")(
      ObjectStoreCatalog.scanCatalog(spark, srcUri)).cache()
    val tgtCatalog = t.span("sources.scan")(
      ObjectStoreCatalog.scanCatalog(spark, dstUri))
    t.span("sources.ensure_bucket")(ObjectStoreCatalog.ensureBucket(spark, dstUri))

    val ledger = t.span("ledger.read")(SyncEngine.readLedger(spark, config.ledgerPath))
    val decided = t.span("syncops.diff") {
      val d = SyncOps.catalogLedgerDiff(srcCatalog, ledger, mid).cache()
      d.count()
      d
    }
    val toCopy = SyncOps.needsSync(decided)
    val receipts = t.span("copy.copy")(SyncEngine.materialize(spark,
      CopyExecutor.copyObjects(spark, toCopy, srcUri, dstUri).toDF(),
      scratch + "/copy_receipts"))

    val updates = toCopy.alias("t")
      .join(receipts.alias("r"), col("t.name") === col("r.object_name"))
      .select(lit(0L).as("id"), lit(mid).as("mapping_id"),
        col("t.name").as("object_name"), col("t.size"),
        col("t.last_modified"), col("t.etag"), col("t.content_type"),
        current_timestamp().as("last_synced"), col("r.sync_status"),
        col("t.metadata"))
    val counts = t.span("syncops.outcomes") {
      val c = SyncOps.syncOutcomeCounts(decided, mid).collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      t.note("rows_decided", c.values.sum)
      t.note("to_copy", c.collect { case (k, v) if k != "skip" => v }.sum)
      c
    }
    val failed = t.span("syncops.failed") {
      val n = updates.filter(col("sync_status") =!= "success").count()
      t.note("copy_failed", n)
      n
    }

    val orphans = SyncOps.orphanAntiJoin(tgtCatalog, srcCatalog)
    val (removedNames, removed) = t.span("copy.delete") {
      val receipts = SyncEngine.materialize(spark,
        CopyExecutor.deleteObjects(spark, orphans, dstUri).toDF(),
        scratch + "/delete_receipts")
      // one receipt per orphan the delete attempted; `removed` marks success
      t.note("orphans", receipts.count())
      val names = receipts.filter(col("removed"))
        .select(col("object_name").as("name"))
      val n = names.count()
      t.note("deleted", n)
      (names, n)
    }

    val doomed = removedNames.select(lit(mid).as("mapping_id"),
      col("name").as("object_name"))
    val changedRows = counts.getOrElse("sync_new", 0L) +
      counts.getOrElse("sync_changed", 0L) + counts.getOrElse("sync_retry", 0L)
    if (changedRows > 0 || removed > 0) t.span("ledger.commit") {
      SyncEngine.ensurePartitionedLayout(spark, config.ledgerPath)
      val sfx = SyncEngine.partitionLockSuffix(mid)
      SyncEngine.jvmMonitor(config.ledgerPath + sfx).synchronized {
        SyncEngine.withLedgerFileLock(spark, config.ledgerPath,
          lockSuffix = sfx) {
          val base = t.span("ledger.read")(SyncEngine.readLedgerPartition(
            spark, config.ledgerPath, mid, callerHoldsPartitionLock = true))
          val merged: DataFrame = t.span("syncops.upsert")(
            SyncOps.ledgerUpsert(base, updates)
              .join(doomed, Seq("mapping_id", "object_name"), "left_anti"))
          t.span("ledger.write")(SyncEngine.writeLedgerPartition(spark,
            merged, config.ledgerPath, mid))
        }
      }
    }
    Report(mid, changedRows - failed, counts.getOrElse("skip", 0L), failed,
      removed)
  }
}
