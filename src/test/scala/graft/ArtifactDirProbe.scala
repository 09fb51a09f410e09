package graft

/** Run in a child JVM by [[MemoSpec]]: makes an artifact dir, writes a
  * file into it, prints the dir's path and exits. */
object ArtifactDirProbe {
  def main(args: Array[String]): Unit = {
    val d = Queries.artifactDir("graft-memospec-exit")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "artifact"),
      Array[Byte](1))
    println(s"artifact-dir=$d")
  }
}
