package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Source lint: every cached or checkpointed intermediate is owned by a
 * [[graft.core.Scope]], so `src/main` and `tools` make no raw
 * `.persist(`, `.cache()`, `localCheckpoint(`, `unpersist(` or
 * `getPersistentRDDs` call outside `Scope.scala`. A `.persist(` is allowed
 * only on `Scope` itself or on a name the same file binds to a scope
 * (`Scope { s => …}`, `Scope.local { s => …}`, `val x = Scope.open()`).
 */
class ScopeLintSpec extends AnyFunSuite {

  private val banned = Seq(
    """\.cache\(\)""".r -> ".cache()",
    """localCheckpoint\(""".r -> "localCheckpoint(",
    """unpersist\(""".r -> "unpersist(",
    """getPersistentRDDs""".r -> "getPersistentRDDs")
  private val persistCall = """\.persist\(""".r
  private val scopeNames = Seq(
    """(?:val|var)\s+(\w+)\s*=\s*(?:graft\.core\.)?Scope\.open\(\)""".r,
    """Scope(?:\.local)?\s*\{\s*(\w+)\s*=>""".r)

  /** `file:line: what` for each raw block-store call in `src`. */
  private[graft] def violations(file: String, src: String): Seq[String] = {
    val scopes = Set("Scope") ++ scopeNames.flatMap(_.findAllMatchIn(src).map(_.group(1)))
    src.linesIterator.zipWithIndex.flatMap { case (line, i) =>
      val raw = banned.collect { case (re, what) if re.findFirstIn(line).isDefined => what }
      val persists = persistCall.findAllMatchIn(line).flatMap { m =>
        val receiver = """\w+$""".r.findFirstIn(line.substring(0, m.start))
        if (receiver.exists(scopes)) None else Some(".persist(")
      }
      (raw ++ persists).map(what => s"$file:${i + 1}: $what")
    }.toSeq
  }

  private def sources: Seq[Path] =
    Seq("src/main", "tools").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"run from the repo root: no $root")
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    }.filterNot(_.getFileName.toString == "Scope.scala")

  test("src/main and tools make no raw persist/cache/checkpoint/unpersist call outside Scope.scala") {
    val found = sources.flatMap(p => violations(p.toString, Files.readString(p)))
    assert(sources.nonEmpty)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the lint flags a planted raw call and passes scope-owned ones") {
    val planted = Seq(
      "val p = df.persist()",
      "val p = df.select(\"a\")\n  .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)",
      "frame.persist(level)",
      "df.cache()",
      "df.localCheckpoint(true)",
      "try df.unpersist(false) catch { case _: Exception => () }",
      "spark.sparkContext.getPersistentRDDs.keySet")
    for (src <- planted) assert(violations("planted", src).nonEmpty, src)
    val owned = Seq(
      "val p = Scope.persist(df)",
      "Scope { s =>\n  val p = s.persist(df)\n}",
      "Scope.local { inner => inner.persist(df) }",
      "val mount = graft.core.Scope.open()\nmount.persist(df)",
      "val r = Scope.persistRdd(rdd)")
    for (src <- owned) assert(violations("owned", src).isEmpty, src)
  }
}
