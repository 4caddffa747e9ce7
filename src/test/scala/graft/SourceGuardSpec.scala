package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Keeps the two shared idioms owned by one place each: micro-batch
  * sinks go through `Streams.microBatch`, driver-side concurrency
  * through `Par.overlap`. A copied `foreachBatch` loop or an ad-hoc
  * Future in `src/main` fails here. */
class SourceGuardSpec extends AnyFunSuite with Matchers {

  private val root = Paths.get("src/main")

  /** Code of every Scala source under src/main, comments stripped. */
  private lazy val sources: Map[Path, String] =
    Using.resource(Files.walk(root)) { paths =>
      paths.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map { p =>
          val code = new String(Files.readAllBytes(p), "UTF-8")
            .replaceAll("(?s)/\\*.*?\\*/", "")
            .replaceAll("//[^\n]*", "")
          p -> code
        }.toMap
    }

  private def sitesOf(pattern: String): Seq[(String, Int)] =
    sources.toSeq.flatMap { case (p, code) =>
      val n = pattern.r.findAllMatchIn(code).size
      if (n > 0) Some(root.resolve("scala").relativize(p).toString -> n) else None
    }

  test("src/main is present (the guard scans real sources)") {
    sources.keys.map(_.getFileName.toString) should contain allOf
      ("Streams.scala", "Par.scala", "SparkEntry.scala")
  }

  test("one foreachBatch call site: Streams.microBatch") {
    sitesOf("""\.foreachBatch\b""") shouldBe Seq("graft/streaming/Streams.scala" -> 1)
    val streams = sources(root.resolve("scala/graft/streaming/Streams.scala"))
    val owner = streams.indexOf("def microBatch")
    owner should be >= 0
    val site = streams.indexOf(".foreachBatch")
    site should be > owner
    // no other definition between the owner and the call site
    streams.substring(owner + 1, site) should not include "def "
  }

  test("one thread-pool site: Par; no global execution context, no Await") {
    Seq("""concurrent\.Future""", """ExecutionContext""", """Await\.""",
        """\bFuture\s*[({]""", """ForkJoinPool""", """ThreadPoolExecutor""",
        """Executors\.""", """withThreadLocalCaptured""")
      .foreach { pat =>
        withClue(s"pattern $pat: ") {
          sitesOf(pat).map(_._1).filterNot(_ == "graft/Par.scala") shouldBe empty
        }
      }
    sitesOf("""Executors\.""") shouldBe Seq("graft/Par.scala" -> 1)
  }
}
