package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session shape the mains run in. The oracle compare of
  * [[Verify]]'s dump is dtype-strict, so a drifted copy of this conf reads
  * as wrong answers rather than as a config change. */
class SessionsSpec extends AnyFunSuite {

  test("Sessions.local conf: local[cpus], a shuffle partition per core, AQE, UTC, nanos as long, no UI") {
    val plain = Sessions.conf("4").getAll.toMap
    assert(plain === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
    assert(Sessions.conf("4", fair = true).getAll.toMap ===
      plain + ("spark.scheduler.mode" -> "FAIR"))
  }

  test("no main builds its own session: only Sessions and Smoke call SparkSession.builder") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    def callsBuilder(p: java.nio.file.Path): Boolean =
      Files.readAllLines(p).asScala.map(_.trim).exists { l =>
        !l.startsWith("*") && !l.startsWith("/*") && !l.startsWith("//") &&
          l.contains("SparkSession.builder")
      }
    val walk = Files.walk(root)
    val builders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && callsBuilder(p))
      .map(_.getFileName.toString).toSet
    finally walk.close()
    assert(builders === Set("Sessions.scala", "Smoke.scala"))
  }

  test("one coarse-probe cache: only Similarity names CentroidCache or builds a WeakHashMap") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    def holdsCache(p: java.nio.file.Path): Boolean =
      Files.readAllLines(p).asScala.map(_.trim).exists { l =>
        !l.startsWith("*") && !l.startsWith("/*") && !l.startsWith("//") &&
          (l.contains("CentroidCache") || l.contains("WeakHashMap"))
      }
    val walk = Files.walk(root)
    val holders = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && holdsCache(p))
      .map(_.getFileName.toString).toSet
    finally walk.close()
    assert(holders === Set("Similarity.scala"))
  }

  test("one dense serving path: SearchEngine names no cell column and runs no probe of its own") {
    val src = Paths.get("src/main/scala/graft/api/SearchEngine.scala")
    assert(Files.isRegularFile(src), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val code = Files.readAllLines(src).asScala.map(_.trim).filterNot(l =>
      l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
    val layout = code.filter(l => l.contains("\"cluster\"") ||
      l.contains("Similarity.probe(") || l.contains("Similarity.quantizer("))
    assert(layout.isEmpty, s"the facade reaches into the dense index layout:\n${layout.mkString("\n")}")
  }
}
