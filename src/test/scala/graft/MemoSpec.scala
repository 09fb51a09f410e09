package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The contract of the shared-artifact registry (`Queries.Memo`) and of
  * the scratch-dir helpers, on a private copy of the sf0.001 fixture.
  * Only cheap memos are built: the two table-statistics memos and the
  * hive-partitioned events store. A memo that serves its entry runs no
  * Spark job (it only stats the fixture files), so the job count of a
  * `get` tells a rebuild from a hit. */
class MemoSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val meter = graft.obs.JobMeter.install(spark)

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-memospec")
    FileUtils.copyDirectory(new File(TestSpark.sf0001), d.toFile)
    d.toString
  }

  override def afterAll(): Unit =
    try {
      Queries.clearSharedBuildCaches(dir)
      FileUtils.deleteDirectory(new File(dir))
    } finally super.afterAll()

  /** Spark jobs run by `f`. */
  private def jobs(f: => Any): Long = meter.measure(f)._3.jobs

  test("the registry is Bench's infra line set, in the recorded order") {
    val record = new String(
      Files.readAllBytes(Paths.get("BENCH_FULL_r21.json")), "UTF-8")
    val infra = """"infra":\{([^}]*)\}""".r.findFirstMatchIn(record).get.group(1)
    val names = """"(\w+)":""".r.findAllMatchIn(infra).map(_.group(1)).toSeq
    assert(names.size === 22)
    assert(Queries.memos.map(_.name).toSeq === names)
  }

  test("clearSharedBuildCaches makes the next get rebuild") {
    Queries.embStats.get(spark, dir)
    val part = Queries.sharedHivePartPath.get(spark, dir)
    assert(jobs(Queries.embStats.get(spark, dir)) === 0)
    assert(Queries.sharedHivePartPath.get(spark, dir) === part)
    Queries.clearSharedBuildCaches(dir)
    assert(jobs(Queries.embStats.get(spark, dir)) > 0)
    // a rebuilt store lands in a fresh artifact dir
    assert(Queries.sharedHivePartPath.get(spark, dir) !== part)
  }

  test("a rewritten embeddings table rebuilds only the memos keyed on it") {
    val stats = Queries.embStats.get(spark, dir)
    Queries.docStats.get(spark, dir)
    val part = Queries.sharedHivePartPath.get(spark, dir)
    val emb = Paths.get(dir, "embeddings.parquet")
    val mtime = Files.getLastModifiedTime(emb).toMillis
    Files.write(emb, Files.readAllBytes(emb))
    Files.setLastModifiedTime(emb, FileTime.fromMillis(mtime + 60000))
    assert(jobs(Queries.docStats.get(spark, dir)) === 0)
    assert(Queries.sharedHivePartPath.get(spark, dir) === part)
    assert(jobs(Queries.embStats.get(spark, dir)) > 0)
    assert(Queries.embStats.get(spark, dir) === stats)
  }

  test("clearing another dir leaves this dir's entries") {
    Queries.docStats.get(spark, dir)
    val part = Queries.sharedHivePartPath.get(spark, dir)
    // a dir whose name is a prefix of this one's, and an unrelated one
    Queries.clearSharedBuildCaches(dir.init)
    Queries.clearSharedBuildCaches(TestSpark.sf0001 + "-absent")
    assert(jobs(Queries.docStats.get(spark, dir)) === 0)
    assert(Queries.sharedHivePartPath.get(spark, dir) === part)
  }

  test("an artifact dir is deleted with its contents when the JVM exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val p = new ProcessBuilder(java.toString, "-Xmx256m", "-cp",
      System.getProperty("java.class.path"), "graft.ArtifactDirProbe")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor() === 0, out.mkString("\n"))
    val made = out.collectFirst {
      case l if l.startsWith("artifact-dir=") => l.stripPrefix("artifact-dir=")
    }
    assert(made.isDefined, out.mkString("\n"))
    assert(!new File(made.get).exists(), s"${made.get} survived the JVM")
  }

  test("a work copy is deleted after its body, and after a failed copy") {
    val prefix = "graft-memospec-work"
    def leftovers: Set[String] = {
      val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSet
      finally s.close()
    }
    val before = leftovers
    val seen = Queries.withWorkCopy(dir, prefix) { copy =>
      assert(new File(copy, "embeddings.parquet").isFile)
      copy
    }
    assert(!new File(seen).getParentFile.exists())
    intercept[java.io.IOException] {
      Queries.withWorkCopy(s"$dir/no-such-store", prefix)(_ => fail("body ran"))
    }
    assert(leftovers === before)
  }
}
