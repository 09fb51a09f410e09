package graft.tools
object VdbDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-vdb-demo")
    // consumer flow: build a corpus CSV, open, search, append, re-search
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("vdbdemo").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "distributed query engine", e.embed("distributed query engine")),
      (2L, "d1", "garden flowers bloom", e.embed("garden flowers bloom"))
    ).toDF("chunk_id","document_id","chunk_text","vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    println("count=" + db.count)
    db.searchFormatted("distributed query engine", 2).show(false)
    db.add(7L, "appended about engines")
    println("after add count=" + db.count)
    db.search("appended about engines", 1).show(false)
    spark.stop()
  }
}
