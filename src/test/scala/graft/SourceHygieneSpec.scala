package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source rules over the main sources (reads files only, starts no
  * session): session builders only in `GraftSession.scala`, Spark
  * listeners only in `obs/JobMeter.scala`, one call site each for the
  * versioned store's commit-file writers, the near-dup closer's
  * broadcast hint and the text and vector admission kernels' reject
  * anti-join, the derived-sidecar directory written only by its backfill
  * and carry step, one streaming admission loop, shared fixture artifacts
  * memoized only through `Queries.Memo`, no swallowed `Throwable`,
  * and no orphaned scaladoc. [[hits]] skips comment lines. */
class SourceHygieneSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src", "main", "scala")

  /** (file relative to the main root, line number, line) of every code
    * line matching `pattern`. */
  private def hits(pattern: scala.util.matching.Regex): Seq[(String, Int, String)] =
    for {
      f <- mainFiles
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if !isComment(line)
      if pattern.findFirstIn(line).isDefined
    } yield (rel(f), i + 1, line.trim)

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private def mainFiles: List[Path] = {
    assert(Files.isDirectory(mainRoot), s"no main sources at ${mainRoot.toAbsolutePath}")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toList.sortBy(_.toString)
    finally walk.close()
  }

  private def rel(f: Path): String =
    mainRoot.relativize(f).toString.replace('\\', '/')

  /** The member def (of a top-level object) enclosing line `lineNo`
    * (1-based) of main source `file`. */
  private def enclosingDef(file: String, lineNo: Int): String =
    Files.readAllLines(mainRoot.resolve(file)).asScala.zipWithIndex
      .collect { case (l, i) if i + 1 < lineNo &&
        """^  (private(\[\w+\])?\s+)?def\s""".r.findFirstIn(l).isDefined => l.trim }
      .last

  /** Kind and name (`def x`, `val y`, `class Z`) of the top-level
    * object's member whose code starts at or above line `lineNo` of main
    * source `file`. */
  private def enclosingMember(file: String, lineNo: Int): String = {
    val start = Files.readAllLines(mainRoot.resolve(file)).asScala
      .take(lineNo).filter(l => l.matches("""^  \S.*""") && !isComment(l)).last
    """\b(def|val|class|object)\s+(\w+)""".r.findFirstMatchIn(start)
      .map(m => s"${m.group(1)} ${m.group(2)}").getOrElse(start.trim)
  }

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
    for (name <- Seq("claimGen", "writeBloom", "writeManifest")) {
      val calls = hits(s"""\\b$name\\(""".r)
        .filterNot(_._3.contains(s"def $name("))
      assert(calls.size === 1 && calls.head._1 === store,
        s"$name( must be called from one place:\n" + calls.mkString("\n"))
      val enclosing = enclosingDef(store, calls.head._2)
      assert(enclosing.startsWith("private def publish("),
        s"$name( is called from `$enclosing`, not the publish step")
    }
  }

  test("derived sidecars are written only by VersionedCorpus.derived and its carry step") {
    val store = "graft/sources/VersionedCorpus.scala"
    def defName(c: (String, Int, String)) =
      enclosingDef(c._1, c._2).takeWhile(_ != '(')
    val spelled = hits("\"_derived\"".r)
    assert(spelled.map(c => (c._1, defName(c))) === Seq(store -> "private def derivedDir"),
      "the _derived directory is spelled outside derivedDir:\n" + spelled.mkString("\n"))
    // a sidecar lands in _derived/ by placeSidecar: a backfill or a carry
    val places = hits("""\bplaceSidecar\(""".r).filterNot(_._3.contains("def placeSidecar("))
    assert(places.map(_._1).distinct === Seq(store) &&
      places.map(defName).toSet === Set("def derived", "private def carrySidecars"),
      "placeSidecar( call sites:\n" + places.mkString("\n"))
    // every path into _derived/: the snapshot and log readers list none
    val users = hits("""\b(derivedDir|sidecarDir|sidecarNames)\(""".r)
      .filterNot(c => """def (derivedDir|sidecarDir|sidecarNames)\(""".r.findFirstIn(c._3).isDefined)
    assert(users.map(_._1).distinct === Seq(store) &&
      users.map(defName).toSet.subsetOf(Set("private def sidecarDir", "def derived",
        "private def carrySidecars", "private def sidecarNames", "private def reclaim")),
      "paths into _derived/ built in:\n" + users.map(defName).distinct.mkString("\n"))
  }

  test("every near-dup bucket join closes through NearDup.bucketPairs") {
    val calls = hits("""\bhintSmallerSide\(""".r)
      .filterNot(_._3.contains("def hintSmallerSide("))
    assert(calls.size === 1 && calls.head._1 === "graft/operators/NearDup.scala",
      "hintSmallerSide( must be called from one place:\n" + calls.mkString("\n"))
    val enclosing = enclosingDef(calls.head._1, calls.head._2)
    assert(enclosing.startsWith("private[graft] def bucketPairs("),
      s"hintSmallerSide( is called from `$enclosing`, not the shared closer")
  }

  test("admission reject sets are applied only inside the admission kernels") {
    // one verdict chain per semantic: a caller that composes the text
    // admission by hand (its own anti-join of the verified rejects)
    // instead of calling Dedup.admitIncoming shows up here
    val calls = hits("""\bantiByLocalIds\(""".r)
      .filterNot(_._3.contains("def antiByLocalIds("))
    val dedup = "graft/operators/Dedup.scala"
    assert(calls.map(_._1).distinct === Seq(dedup),
      "antiByLocalIds( called outside Dedup:\n" + calls.mkString("\n"))
    assert(calls.map(c => enclosingDef(dedup, c._2).takeWhile(_ != '(')) ===
      Seq("def admitIncoming", "def admitIncomingVectors"),
      "antiByLocalIds( call sites:\n" + calls.mkString("\n"))
  }

  test("every streaming admission runs in the one admissionLoop body") {
    // a loop that re-codes foreachBatch + scope + commit for one kernel
    // and corpus state, instead of passing them to admissionLoop, shows
    // up as a second scope or as a kernel call in another foreachBatch
    val streams = "graft/streaming/Streams.scala"
    val scopes = hits("""\bwithAdmissionScope\b""".r)
      .filter(_._1.startsWith("graft/streaming/"))
    assert(scopes.size === 1 && scopes.head._1 === streams,
      "withAdmissionScope under streaming/:\n" + scopes.mkString("\n"))
    assert(enclosingDef(streams, scopes.head._2).startsWith("def admissionLoop("),
      s"the admission scope is opened outside admissionLoop: ${scopes.head}")
    // the object's members, each from one 2-space-indented code line to
    // the next
    val kernel = """\bDedup\.(admitIncoming\w*|cleanAndAdmit|gateAndAdmit)\b""".r
    val lines = Files.readAllLines(mainRoot.resolve(streams)).asScala
      .toIndexedSeq.filterNot(isComment)
    val starts = lines.indices.filter(i => lines(i).matches("""^  \S.*"""))
    val offenders = starts.zip(starts.drop(1) :+ lines.size).collect {
      case (a, b) if !lines(a).trim.startsWith("def admissionLoop(") &&
        lines.slice(a, b).exists(_.contains("foreachBatch")) &&
        lines.slice(a, b).exists(kernel.findFirstIn(_).isDefined) => lines(a).trim
    }
    assert(offenders.isEmpty,
      "foreachBatch bodies calling an admission kernel outside admissionLoop:\n" +
        offenders.mkString("\n"))
  }

  test("shared fixture artifacts are memoized only through Queries.Memo") {
    // a hand-written memo (its own map, freshness guard and temp dir) or a
    // Bench infra line that calls a builder by name shows up here
    def members(pattern: scala.util.matching.Regex): Set[String] =
      hits(pattern).filter(_._1.matches("""graft/Queries\w*\.scala"""))
        .map(h => enclosingMember(h._1, h._2)).toSet
    assert(members("""\bConcurrentHashMap\b""".r) ===
      Set("class Memo", "val day1SliceCache"),
      "ConcurrentHashMap outside Memo and day1SliceCache")
    assert(members("""\bcreateTempDirectory\b""".r) ===
      Set("def artifactDir", "def withScratchDir"),
      "createTempDirectory outside the temp-dir helpers")
    val named = hits("""\bQueries\.shared""".r).filter(_._1 == "graft/Bench.scala")
    assert(named.isEmpty, "Bench names a shared builder:\n" + named.mkString("\n"))
  }

  test("a Throwable is caught only to be rethrown") {
    // catching Throwable also swallows fatal errors (OutOfMemoryError,
    // StackOverflowError, interrupts); code that recovers catches NonFatal
    val throwable = """case\s+(\w+|_)\s*:\s*Throwable\s*=>""".r
    val swallowed = for {
      f <- mainFiles
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      if !isComment(l)
      m <- throwable.findFirstMatchIn(l)
      rest = l.substring(m.end)
      // the handler: up to the brace closing a one-line catch, else the
      // following lines up to the next case or closing brace
      body = if (rest.contains("}")) rest.takeWhile(_ != '}')
        else (rest +: lines.drop(i + 1).takeWhile { n =>
          val t = n.trim; !t.startsWith("case ") && !t.startsWith("}")
        }).mkString("\n")
      if """\bthrow\b""".r.findFirstIn(body).isEmpty
    } yield s"${rel(f)}:${i + 1}: ${l.trim}"
    assert(swallowed.isEmpty,
      "Throwable caught without a rethrow (catch NonFatal):\n" + swallowed.mkString("\n"))
  }

  test("no scaladoc block is directly followed by another one") {
    // Scaladoc attaches only the LAST of two stacked blocks; the first
    // is silently orphaned
    val orphans = for {
      f <- mainFiles
      lines = Files.readAllLines(f).asScala.map(_.trim).toIndexedSeq
      (l, i) <- lines.zipWithIndex
      if l.startsWith("/**")
      end = lines.indexWhere(_.contains("*/"), i)
      next = lines.indexWhere(_.nonEmpty, end + 1)
      if end >= 0 && next >= 0 && lines(next).startsWith("/**")
    } yield s"${rel(f)}:${i + 1}"
    assert(orphans.isEmpty, "orphaned scaladoc blocks:\n" + orphans.mkString("\n"))
  }
}
