package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.{SQLExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.types._

/** Produces a query's declared output — every row and every column, in
  * the declared order — and digests it on the way. The plan runs through
  * `qe.toRdd` under a new SQL execution id, the way an action does, so
  * Catalyst cannot prune columns or drop the final sort as it does under
  * `count()`. Each partition hashes its own rows as it reads them; the
  * caller only joins the per-partition digests in partition order. */
object Materialize extends AdaptiveSparkPlanHelper {

  def digest(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.materialize")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        val get = schema.fields.indices.map(j => getter(schema(j).dataType, j)).toArray
        var d = Digest.empty
        rows.foreach(r => d = d.add(Digest.rowHash(get.length, j => get(j)(r))))
        Iterator((i, d))
      }.collect()
    }
    parts.sortBy(_._1).map(_._2).foldLeft(Digest.empty)(_ concat _)
  }

  /** Reads column `j` as the value [[Digest.fieldHash]] expects: flat
    * types directly, nested ones through Catalyst's converter. */
  private def getter(t: DataType, j: Int): InternalRow => Any = {
    def nullable(f: InternalRow => Any): InternalRow => Any = r => if (r.isNullAt(j)) null else f(r)
    t match {
      case LongType | TimestampType | TimestampNTZType => nullable(_.getLong(j))
      case IntegerType | DateType => nullable(_.getInt(j))
      case ShortType => nullable(_.getShort(j))
      case ByteType => nullable(_.getByte(j))
      case BooleanType => nullable(_.getBoolean(j))
      case DoubleType => nullable(_.getDouble(j))
      case FloatType => nullable(_.getFloat(j))
      case _: StringType => nullable(_.getUTF8String(j).toString)
      case d: DecimalType => nullable(_.getDecimal(j, d.precision, d.scale).toJavaBigDecimal)
      case other =>
        val conv = CatalystTypeConverters.createToScalaConverter(other)
        nullable(r => conv(r.get(j, other)))
    }
  }

  /** Global sorts and exchanges in an executed (possibly adaptive) plan. */
  def planShape(plan: SparkPlan): (Int, Int) = {
    val sorts = collect(plan) { case s: SortExec if s.global => s }.size
    val exchanges = collect(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    (sorts, exchanges)
  }

  /** Global sorts the optimizer keeps in the declared plan but drops when
    * the same query is planned under `count()`. Plans only; runs nothing. */
  def sortsDroppedByCount(df: DataFrame): Int = {
    def sorts(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case s: Sort if s.global => s }.size
    val declared = sorts(df.queryExecution.optimizedPlan)
    val counted = sorts(df.groupBy().count().queryExecution.optimizedPlan)
    math.max(0, declared - counted)
  }
}
