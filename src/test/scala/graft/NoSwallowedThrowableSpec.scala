package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Lint: no harness may swallow a failure and carry on. A catch case
  * that discards a `Throwable`, `Exception` or `NonFatal` without
  * binding it reports a broken run as a good one (Bench once dropped a
  * failed artifact build this way, billing its cost to the first row
  * that read the artifact). A handler must bind what it catches, to
  * record or rethrow it, or catch a specific type.
  */
class NoSwallowedThrowableSpec extends AnyFunSuite {

  private val Discarding = Seq(
    """case\s+_\s*:\s*(?:[\w.]+\.)?(?:Throwable|Exception)\b""".r,
    """NonFatal\(\s*_\s*\)""".r,
    """catch\s*\{\s*case\s+_\s*=>""".r)

  private def discards(line: String): Boolean =
    Discarding.exists(_.findFirstIn(line).isDefined)

  test("the lint flags unbound catch-alls and passes bound or specific ones") {
    Seq("catch { case _: Throwable => () }",
      "} catch { case _: Exception => None }",
      "case _: java.lang.Throwable => false",
      "case NonFatal(_) => ()",
      "try f() catch { case _ => 0 }").foreach(l => assert(discards(l), l))
    Seq("catch { case e: Throwable => t.addSuppressed(e) }",
      "case NonFatal(e) => Left(e.getMessage)",
      "case _: IllegalArgumentException | _: NumberFormatException =>",
      "case _ => Nil").foreach(l => assert(!discards(l), l))
  }

  test("no catch case in src/main discards a Throwable, Exception or " +
      "NonFatal without binding it") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Using.resource(Files.walk(root))(_.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector)
    assert(files.nonEmpty)
    val hits = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if discards(line) => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty,
      s"catch cases that discard a failure unbound:\n  ${hits.mkString("\n  ")}")
  }
}
