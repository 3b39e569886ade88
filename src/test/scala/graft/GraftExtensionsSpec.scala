package graft

/** Session-extension injection: a session built with the
  * [[GraftExtensions]] injector (as `Session.local` builds every session,
  * and as `spark.sql.extensions=graft.GraftExtensions` builds a cluster's)
  * resolves all six fixed-builder natives in plain SQL, with no per-query
  * registration. */
class GraftExtensionsSpec extends SparkSpec {

  test("injected builders construct working expressions") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val mkVec = (xs: Seq[Double]) =>
      Literal.create(ArrayData.toArrayData(xs.toArray), ArrayType(DoubleType))
    val byName = GraftExtensions.functions
      .map { case (id, _, b) => id.funcName -> b }.toMap
    val c = byName("cosine_sim")(
      Seq(mkVec(Seq(1.0, 0.0)), mkVec(Seq(1.0, 0.0)))).eval(null)
    assert(math.abs(c.asInstanceOf[Double] - 1.0) < 1e-12)
    val h = byName("hamming_dist")(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal("1010"),
      org.apache.spark.sql.catalyst.expressions.Literal("1001"))).eval(null)
    assert(h.asInstanceOf[Int] == 2)
    val sig = byName("simhash16")(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array(org.apache.spark.unsafe.types.UTF8String.fromString("spark"))),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))).eval(null)
    assert(sig.toString.length == 16 && sig.toString.forall(c => c == '0' || c == '1'))
    def strs(xs: String*) = Literal.create(ArrayData.toArrayData(
      xs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray),
      ArrayType(org.apache.spark.sql.types.StringType))
    val sigs = byName("minhash_sigs")(Seq(strs("a b c", "b c d"))).eval(null)
      .asInstanceOf[ArrayData]
    assert(sigs.numElements() == 8)
    val ah = byName("ahash64")(Seq(Literal(Array[Byte](0, 10, 20, 30)))).eval(null)
    assert(ah.toString.length == 64)
    val nfc = byName("nfc_normalize")(Seq(Literal("e\u0301"))).eval(null)
    assert(nfc.toString == "\u00e9")
    assert(byName.keySet == Set("cosine_sim", "hamming_dist", "simhash16",
      "minhash_sigs", "ahash64", "nfc_normalize"))
  }

  test("extension-built session resolves cosine_sim in SQL") {
    // The shared spec session is built by Session.local, which installs the
    // injector; a new session on it carries the same names.
    val out = spark.newSession().sql(
      "SELECT round(cosine_sim(array(1.0d, 2.0d), array(2.0d, 4.0d)), 6) AS c, " +
        "hamming_dist('111', '000') AS h, length(simhash16(array('spark'))) AS sh, " +
        "size(minhash_sigs(array('a b c'))) AS mh, " +
        "length(ahash64(CAST('abcd' AS BINARY))) AS ah, " +
        "nfc_normalize('e\u0301') = '\u00e9' AS nfc").collect()(0)
    assert(out.getDouble(0) == 1.0 && out.getInt(1) == 3 && out.getInt(2) == 16 &&
      out.getInt(3) == 8 && out.getInt(4) == 64 && out.getBoolean(5))
  }
}
