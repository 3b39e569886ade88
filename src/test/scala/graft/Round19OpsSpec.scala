package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.VectorOps

/** Round-19 coverage: the optimization round's internals changes.
  *  - pqEncode's packed-long argmin must pick exactly the old window's
  *    (dist2 asc, code asc) winner — the equivalence the §2.3 rewrite
  *    rests on;
  *  - top2Cells' first cell must equal assignCells' cell — the sharing
  *    seam q351/q352 ride (one scoring scan feeds graph build AND
  *    assignment).
  * Every test EXECUTES a plan (the round-13 lesson). */
class Round19OpsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("pqEncode packed-long argmin equals the window formulation row for " +
      "row (dist2 asc, code asc), including ties broken by code") {
    val e = VectorOps.vecs(spark, dir)
    val assigned = VectorOps.assignCells(e, VectorOps.coarseCentroids(spark, dir))
    val cbs = VectorOps.pqCodebooksFor(spark, dir, residual = false)(
      VectorOps.trainPqCodebooks(assigned))
    val fast = VectorOps.pqEncode(assigned, cbs)
    // the pre-r19 window formulation, inlined as the reference
    val subs = assigned.select(col("vec_id"), col("cell"), posexplode(expr(
        "transform(sequence(0, 3), m -> slice(v, m*16+1, 16))"))
      .as(Seq("m", "sub")))
    val pqL2 = expr(
      "round(aggregate(zip_with(sub, cw, (a, b) -> (a-b)*(a-b)), " +
        "0D, (acc, x) -> acc + x), 6)")
    val wCode = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist2").asc, col("code").asc)
    val ref = subs.join(broadcast(cbs), col("m") === col("cm"))
      .withColumn("dist2", pqL2)
      .withColumn("rn", row_number().over(wCode)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("m"), col("code"))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
      "packed-long argmin must reproduce the window's winners exactly")
    // and the schema (code stays a long) — consumers join on it
    assert(fast.schema("code").dataType === ref.schema("code").dataType)
  }

  test("top2Cells c1 equals assignCells cell on the trained centroids — " +
      "the q351/q352 shared-scan seam") {
    val cents = VectorOps.coarseCentroids(spark, dir)
    val e = VectorOps.vecs(spark, dir)
    val viaT2 = VectorOps.top2CellsFor(spark, dir)
      .select(col("vec_id"), col("c1").as("cell"))
    val viaAssign = VectorOps.assignCells(e, cents)
      .select(col("vec_id"), col("cell"))
    assert(viaT2.exceptAll(viaAssign).isEmpty &&
        viaAssign.exceptAll(viaT2).isEmpty,
      "top-2 item 0 must be the assignment cell for every vector")
  }
}
