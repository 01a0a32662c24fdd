package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard against implementation-selection knobs in the program: once an
  * A/B is settled the losing path is deleted, so the operator, streaming,
  * function, source and plan layers and the sync engine read no
  * `SPARK_GRAFT_*` environment variable and no `graft.*` conf key except
  * the two deployment settings. `Bench`, `Verify` and `tools/` are out of
  * scope: their environment settings are harness inputs.
  */
class KnobGuardSpec extends AnyFunSuite {

  private val Allowed =
    Set("graft.barrier.strategy", "graft.stream.shufflePartitions")

  // env knobs: any SPARK_GRAFT_* literal; conf keys: graft.* literals whose
  // segments are lowercase-led (a class name ends in a capitalized one)
  private val EnvKey = "\"(SPARK_GRAFT_[A-Z0-9_]*)\"".r
  private val ConfKey =
    "\"(graft\\.(?:[a-z][A-Za-z0-9_]*\\.)*[a-z][A-Za-z0-9_]*)\"".r

  private def graftMain: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(
        _.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft"))
      .find(Files.isDirectory(_))
      .getOrElse(fail("src/main/scala/graft not found above the working dir"))

  private def scoped(root: Path): Seq[Path] = {
    val dirs = Seq("operators", "streaming", "functions", "sources", "plans")
      .map(root.resolve)
    dirs.foreach(d => assert(Files.isDirectory(d), s"missing $d"))
    dirs.flatMap(d => Files.walk(d).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq) :+
      root.resolve("SyncEngine.scala")
  }

  test("no A/B knob in the program: only the two deployment settings") {
    val root = graftMain
    val found = for {
      file <- scoped(root)
      (line, no) <- Files.readAllLines(file).asScala.zipWithIndex
      key <- EnvKey.findAllMatchIn(line).map(_.group(1)) ++
             ConfKey.findAllMatchIn(line).map(_.group(1))
      if !Allowed(key)
    } yield s"${root.relativize(file)}:${no + 1}: $key"
    assert(found.isEmpty, found.mkString("selection knobs found:\n", "\n", ""))
  }

  test("the guard sees the deployment settings it allows") {
    // a scan that matched nothing at all would pass vacuously
    val seen = scoped(graftMain).flatMap(f =>
      ConfKey.findAllMatchIn(Files.readString(f)).map(_.group(1)))
    assert(Allowed.subsetOf(seen.toSet), s"saw only ${seen.distinct}")
  }
}
