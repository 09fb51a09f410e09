package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the mains on the one session factory and the one listener:
  * scans the main sources (reads files only, starts no session) for
  * session builders outside `GraftSession.scala` and Spark listeners
  * outside `obs/JobMeter.scala`. Comment lines are skipped. */
class SourceHygieneSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src", "main", "scala")

  /** (file relative to the main root, line number, line) of every code
    * line matching `pattern`. */
  private def hits(pattern: scala.util.matching.Regex): Seq[(String, Int, String)] = {
    assert(Files.isDirectory(mainRoot), s"no main sources at ${mainRoot.toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    for {
      f <- files.sortBy(_.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !t.startsWith("//") && !t.startsWith("*") && !t.startsWith("/*")
      if pattern.findFirstIn(line).isDefined
    } yield (rel(f), i + 1, t)
  }

  private def rel(f: Path): String =
    mainRoot.relativize(f).toString.replace('\\', '/')

  test("SparkSession.builder appears only in GraftSession") {
    val found = hits("""SparkSession\s*\.\s*builder""".r)
    assert(found.map(_._1).distinct === Seq("graft/GraftSession.scala"),
      found.mkString("\n"))
  }

  test("SparkListeners are installed only by obs/JobMeter") {
    val found = hits("""addSparkListener|(extends|new|with)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r)
    assert(found.map(_._1).distinct === Seq("graft/obs/JobMeter.scala"),
      found.mkString("\n"))
  }

  test("the versioned store's commit files are written only by its publish step") {
    val store = "graft/sources/VersionedCorpus.scala"
    val lines = Files.readAllLines(mainRoot.resolve(store)).asScala
    val defs = lines.zipWithIndex.collect {
      case (l, i) if """^\s*(private\s+)?def\s""".r.findFirstIn(l).isDefined =>
        (i + 1, l.trim)
    }
    for (name <- Seq("claimGen", "writeBloom", "writeManifest")) {
      val calls = hits(s"""\\b$name\\(""".r)
        .filterNot(_._3.contains(s"def $name("))
      assert(calls.size === 1 && calls.head._1 === store,
        s"$name( must be called from one place:\n" + calls.mkString("\n"))
      val enclosing = defs.filter(_._1 < calls.head._2).last._2
      assert(enclosing.startsWith("private def publish("),
        s"$name( is called from `$enclosing`, not the publish step")
    }
  }
}
