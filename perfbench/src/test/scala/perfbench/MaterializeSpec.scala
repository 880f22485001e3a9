package perfbench

import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

class MaterializeSpec extends AnyFunSuite {

  test("the streamed digest equals the row hash of the collected rows, in order") {
    val spark = GraftSession.build(2, "perfbench-test")
    try {
      val df = spark.range(0, 200, 1, 3)
        .select(col("id"), (col("id") % 7).cast("int").as("i"),
          when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
          (col("id") / 3.0).as("d"), (col("id") * 1.25).cast("decimal(12,2)").as("m"))
        .orderBy(col("i"), col("id").desc)
      val collected = df.collect().toSeq.map(_.toSeq)
      val byRows = collected.foldLeft(Digest.empty)((d, r) => d.add(Digest.rowHash(r.size, r)))
      val streamed = Materialize.digest(df)
      assert(streamed == byRows && streamed.rows == 200)
      assert(Materialize.digest(df.orderBy(col("id"))) != streamed)
    } finally spark.stop()
  }
}
