package graft.perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything here depends only on the seed it is
  * given, so the same seed writes byte-identical inputs (object bytes,
  * names and mtimes; table rows).
  */
object Gen {
  val EpochMs = 1700000000000L

  /** Object size: 90% are 0.5–4.5 KiB, 10% are 64–320 KiB. */
  def objectSize(r: SplittableRandom): Int =
    if (r.nextInt(10) == 0) r.nextInt(64 << 10, (320 << 10) + 1)
    else r.nextInt(512, 4608 + 1)

  /** `k` sizes spread evenly over [lo, hi), one per stratum, so the total
    * barely depends on the seed while each size still does.
    */
  def stratifiedSizes(k: Int, lo: Int, hi: Int, r: SplittableRandom): Seq[Int] =
    (0 until k).map(i => lo + ((i + r.nextDouble()) * (hi - lo) / k).toInt)

  def objectName(i: Int): String = f"p${i % 16}%02d/obj-$i%06d.bin"

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"$b%02x").mkString

  // ---- corpus tables ----------------------------------------------------

  // The corpus generators below follow the measured shape of the sf0.01
  // `documents`, `embeddings` and `events` tables the corpus queries are
  // verified on (figures in perfbench/README.md, "Corpus inputs").

  private val Vocab = Array("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "the", "a",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "customer", "query", "big", "filter", "group", "stream", "vector")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Documents of 10–99 words drawn uniformly from a 30-word vocabulary,
    * from 20 sources in turn, 3/7 English and 1/7 each German, Spanish,
    * French and Chinese. No document is an exact copy; 5% are near copies:
    * another document with the word "dup" appended.
    */
  def documents(n: Int, r: SplittableRandom): Seq[Row] = {
    val copies = mutable.SortedSet.empty[Int]
    while (copies.size < n / 20) copies += r.nextInt(n)
    val texts = Array.tabulate(n) { i =>
      if (copies(i)) null
      else Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length)))
        .mkString(" ")
    }
    val originals = mutable.ArrayBuffer.from((0 until n).filterNot(copies))
    copies.foreach { i =>
      texts(i) = texts(originals.remove(r.nextInt(originals.size))) + " dup"
    }
    texts.toSeq.zipWithIndex.map { case (text, i) =>
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  /** Standard normal deviate (Box–Muller), from the given generator only. */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) *
      math.cos(2 * math.Pi * r.nextDouble())

  /** Unit vectors of dimension 64, uniform on the sphere, with a label from
    * 0 to 9 drawn independently of the vector.
    */
  def embeddings(n: Int, r: SplittableRandom): Seq[Row] =
    (0 until n).map { i =>
      val raw = Array.fill(64)(gaussian(r))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Row(i.toLong,
        raw.map(x => java.lang.Float.valueOf((x / norm).toFloat)).toSeq,
        r.nextInt(10))
    }

  private val EventTypes = Array("signup", "click", "error", "view",
    "purchase")

  /** Events in event-id and time order over 30 days from 2024-01-01 UTC,
    * with exponential gaps (microsecond timestamps), each from a uniformly
    * drawn user of `users`, one of five types, a value exponential with
    * mean 50 rounded to cents (at least 0.01), and props `{"k": 0..99}`.
    */
  def events(n: Int, users: Int, r: SplittableRandom): Seq[Row] = {
    val meanGapUs = 30.0 * 86400e6 / n
    var tsUs = 1704067200000000L
    (0 until n).map { i =>
      tsUs += (-meanGapUs * math.log(1 - r.nextDouble())).toLong
      val ts = java.sql.Timestamp.from(
        java.time.Instant.EPOCH.plusNanos(tsUs * 1000L))
      val value = math.max(1L, math.round(-5000 * math.log(1 - r.nextDouble())))
      Row(i.toLong, ts, r.nextInt(users).toLong,
        EventTypes(r.nextInt(EventTypes.length)), value / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Writes `rows` as one parquet file per chunk into `dir` (a landing
    * directory for the file stream source), chunk k holding rows with
    * index % chunks == k, and stamps increasing mtimes so the source admits
    * the chunks in order.
    */
  def writeLanding(spark: SparkSession, dir: Path, schema: StructType,
                   rows: Seq[Row], chunks: Int, prefix: String): Unit = {
    Files.createDirectories(dir)
    (0 until chunks).foreach { k =>
      val part = rows.zipWithIndex.collect { case (row, i) if i % chunks == k => row }
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-$k")
      spark.createDataFrame(spark.sparkContext.parallelize(part, 1), schema)
        .write.mode("overwrite").parquet(tmp.toString)
      val file = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = dir.resolve(f"$prefix-$k%02d.parquet")
      Files.move(file, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(EpochMs + k * 1000L))
      Dirs.delete(tmp)
    }
  }

  /** SHA-256 over the rows' string form, for the determinism check. */
  def rowsDigest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.mkString("\u0001").getBytes("UTF-8")))
    hex(md.digest())
  }
}

/** What one seeded churn step did to a bucket. */
final case class Churn(modified: Seq[String], added: Seq[String],
                       deleted: Seq[String])

/** A source bucket on the local filesystem whose exact content the
  * generator knows: object name → size. Every write also feeds a digest, so
  * two generations can be compared without reading the bytes back.
  */
final class Bucket(val dir: Path) {
  val objects: mutable.TreeMap[String, Long] = mutable.TreeMap.empty
  private var nextId = 0
  private val md = MessageDigest.getInstance("SHA-256")

  def bytes: Long = objects.values.sum

  def digest: String = Gen.hex(md.clone().asInstanceOf[MessageDigest].digest())

  private def put(r: SplittableRandom, name: String, size: Int,
                  mtimeMs: Long): Unit = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    val buf = new Array[Byte](size)
    var i = 0
    while (i < size) {
      var x = r.nextLong()
      var j = 0
      while (j < 8 && i < size) { buf(i) = x.toByte; x >>>= 8; i += 1; j += 1 }
    }
    Files.write(p, buf)
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    md.update(name.getBytes("UTF-8"))
    md.update(BigInt(mtimeMs).toByteArray)
    md.update(buf)
    objects(name) = size.toLong
  }

  def add(r: SplittableRandom, size: Int): String = {
    val name = Gen.objectName(nextId)
    put(r, name, size, Gen.EpochMs + nextId * 1000L)
    nextId += 1
    name
  }

  /** `n` objects, exactly a tenth of them large, in a seeded order. */
  def populate(n: Int, r: SplittableRandom): Unit = {
    val large = n / 10
    val sizes = mutable.ArrayBuffer.from(
      Gen.stratifiedSizes(large, 64 << 10, (320 << 10) + 1, r) ++
        Gen.stratifiedSizes(n - large, 512, 4608 + 1, r))
    while (sizes.nonEmpty) add(r, sizes.remove(r.nextInt(sizes.size)))
  }

  /** Modifies, adds and deletes the given numbers of objects. A modified
    * object gets a new size and a new mtime, so its pseudo-etag changes.
    */
  def churn(cycle: Int, nModify: Int, nAdd: Int, nDelete: Int,
            r: SplittableRandom): Churn = {
    val pool = mutable.ArrayBuffer.from(objects.keys)
    def take(): String = pool.remove(r.nextInt(pool.size))
    val modified = Seq.fill(nModify)(take()).sorted
    val deleted = Seq.fill(nDelete)(take()).sorted
    modified.zipWithIndex.foreach { case (name, k) =>
      var size = Gen.objectSize(r)
      if (size == objects(name)) size += 1
      put(r, name, size, Gen.EpochMs + 1000000000L + cycle * 100000L + k)
    }
    deleted.foreach { name =>
      Files.delete(dir.resolve(name))
      objects.remove(name)
      md.update(("-" + name).getBytes("UTF-8"))
    }
    val added = Seq.fill(nAdd)(add(r, Gen.objectSize(r)))
    Churn(modified, added, deleted)
  }

  /** Replaces an object with a dangling symlink: it is still part of the
    * bucket the sync must converge to, but it cannot be read. Used only to
    * prove that the convergence check counts a failed sync.
    */
  def makeUnreadable(name: String): Unit = {
    val p = dir.resolve(name)
    Files.delete(p)
    Files.createSymbolicLink(p, dir.resolve(name + ".missing"))
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.toArray.foreach(c => delete(c.asInstanceOf[Path]))
        finally s.close()
      }
      Files.delete(p)
    }

  /** Regular files under `root` (relative name → size), skipping hidden
    * names such as Hadoop's `.crc` checksum files.
    */
  def listObjects(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("."))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
}
