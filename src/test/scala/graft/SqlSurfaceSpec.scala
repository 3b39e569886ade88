package graft

/** The engine's SQL surface: tables registered as views + the native
  * functions make every capability reachable from `spark.sql`. The views
  * live on a session of their own, so the shared spec session is left as it
  * was; the function names come from [[GraftExtensions.functions]], which
  * `Session.local` installs on every session it builds. */
class SqlSurfaceSpec extends SparkSpec {

  test("spark.sql over registered views and custom functions") {
    val s = spark.newSession()
    Tables.documents(s, "/root/testdata/sf0.001").createOrReplaceTempView("documents")
    Tables.embeddings(s, "/root/testdata/sf0.001").createOrReplaceTempView("embeddings")

    val hd = s.sql("SELECT hamming_dist('0110', '0011') AS d").collect()(0).getInt(0)
    assert(hd == 2)

    val cos = s.sql(
      """SELECT cosine_sim(transform(a.embedding, x -> CAST(x AS DOUBLE)),
                           transform(a.embedding, x -> CAST(x AS DOUBLE))) AS c
         FROM embeddings a WHERE a.vec_id = 0""").collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)

    val n = s.sql(
      """SELECT count(*) FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         WHERE d.lang = 'en'""").collect()(0).getLong(0)
    assert(n > 0)
    assert(!spark.catalog.tableExists("documents") &&
      !spark.catalog.tableExists("embeddings"), "the views leaked into the shared session")
  }
}
