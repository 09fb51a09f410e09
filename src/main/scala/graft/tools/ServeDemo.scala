package graft.tools


/** Runnable serve-loop demo — the reference's interactive session
  * (`app.py:60-96`) end to end: build a corpus, start the HTTP serving
  * surface, exercise search / add / re-search through REAL requests,
  * print the exchanges. Pass `--stay` to keep serving until killed
  * (the actual long-lived deployment shape); default exits after the
  * scripted exchange so automated drives terminate. */
object ServeDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-serve-demo")
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("servedemo").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "distributed query engine", e.embed("distributed query engine")),
      (2L, "d1", "garden flowers bloom", e.embed("garden flowers bloom")),
      (3L, "d2", "columnar storage scan", e.embed("columnar storage scan"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new graft.serving.SearchServer(spark, db, port = 0).start()
    val port = srv.boundPort
    println(s"serving on http://127.0.0.1:$port")
    def get(p: String): String = {
      val c = java.net.http.HttpClient.newHttpClient()
      c.send(java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:$port$p")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    }
    def post(p: String, body: String): String = {
      val c = java.net.http.HttpClient.newHttpClient()
      c.send(java.net.http.HttpRequest.newBuilder()
          .uri(java.net.URI.create(s"http://127.0.0.1:$port$p"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    }
    println("GET /count          -> " + get("/count"))
    println("GET /search?q=...   -> " +
      get("/search?q=distributed%20query%20engine&k=2"))
    println("POST /add (body)    -> " +
      post("/add", "id=9&text=engine%20doc"))
    println("GET /search (new)   -> " + get("/search?q=engine%20doc&k=1"))
    if (args.contains("--stay")) {
      println("serving until killed (--stay)")
      Thread.currentThread().join()
    }
    srv.stop()
    spark.stop()
  }
}
