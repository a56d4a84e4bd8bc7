package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the streaming-query lifecycle in one place: among the operators
  * only `StreamGate` may start (`writeStream`), await or drain a stream,
  * and `Bench` and `Main` drain through `StreamGate.drain`. Comments are
  * ignored. `awaitTermination` with two arguments is
  * `ExecutorService.awaitTermination` (`Par`'s pool), not a stream
  * await, so it is not flagged. Likewise graft's native functions are
  * reached one way: outside `functions/` and `GraftExtensions.scala` no
  * code looks one up by name or registers them. */
class StreamHarnessLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala/graft")

  /** `file`'s code lines as (line number, text), comments blanked. */
  private def codeLines(file: Path): Seq[(Int, String)] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val noBlocks = raw"(?s)/\*.*?\*/".r
      .replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
    noBlocks.split("\n", -1).toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l.replaceAll("//.*", "")) }
  }

  private val streamCall =
    raw"writeStream|processAllAvailable|awaitTermination(?!\s*\([^)]*,)".r

  private def hits(file: Path, pattern: scala.util.matching.Regex): Seq[String] =
    codeLines(file).collect {
      case (n, l) if pattern.findFirstIn(l).isDefined => s"${mainRoot.relativize(file)}:$n: ${l.trim}"
    }

  test("among the operators only StreamGate starts, awaits or drains a stream") {
    val files = Files.walk(mainRoot.resolve("operators")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "StreamGate.scala")
      .toSeq
    assert(files.nonEmpty)
    val found = files.flatMap(hits(_, streamCall))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("Bench and Main drain through StreamGate") {
    val found = Seq("Bench.scala", "Main.scala")
      .flatMap(f => hits(mainRoot.resolve(f), "processAllAvailable".r))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("native functions are built through the Column API, never looked up by name") {
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !p.startsWith(mainRoot.resolve("functions")) &&
        p.getFileName.toString != "GraftExtensions.scala")
      .toSeq
    assert(files.nonEmpty)
    val found = files.flatMap(hits(_, raw"call_function\(|GraftFunctions\.register\(".r))
    assert(found.isEmpty, s"${found.size} hits" + found.mkString("\n", "\n", ""))
  }

  test("the lint sees a stream call in code and ignores one in a comment") {
    val tmp = Files.createTempFile("lint", ".scala")
    try {
      Files.write(tmp, Seq(
        "/** q.awaitTermination() in a doc */",
        "val q = df.writeStream.start() // processAllAvailable",
        "pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)",
        "q.awaitTermination()").asJava)
      assert(codeLines(tmp).collect {
        case (n, l) if streamCall.findFirstIn(l).isDefined => n
      } === Seq(2, 4))
    } finally Files.delete(tmp)
  }
}
