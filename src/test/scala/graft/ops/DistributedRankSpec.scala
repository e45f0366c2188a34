package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[DistributedRank.globalRanks]] against a reference `row_number()`
  * over an unpartitioned window, on a table with heavy ties and null keys,
  * under every combination of exchange reuse and adaptive execution: the
  * ranks may not depend on how Spark plans or shares the pass.
  */
class DistributedRankSpec extends SparkSuite {

  /** 3,000 rows over 6 input partitions: `id` unique, `k` in 0..6 (about
    * 430 rows a value), `g` null on every 11th row and in 0..12 otherwise,
    * `s` a 5-value string, and `m` a carried column.
    */
  private def table: DataFrame = spark.range(0, 3000, 1, 6).select(
    col("id"),
    (col("id") % 7).as("k"),
    when(col("id") % 11 === 0, lit(null)).otherwise((col("id") * 37) % 13).as("g"),
    concat(lit("s"), (col("id") * 7 % 5).cast("string")).as("s"),
    (col("id") * 3 + 1).as("m"))

  /** The callers' two shapes: three stacked orders (asc, desc with nulls
    * last, and asc nulls last then a desc string), and one desc order.
    */
  private val three: Seq[(String, Seq[Column])] = Seq(
    "r_a" -> Seq(col("k"), col("id")),
    "r_d" -> Seq(col("g").desc, col("id")),
    "r_n" -> Seq(col("g").asc_nulls_last, col("s").desc, col("id").desc))
  private val one: Seq[(String, Seq[Column])] = Seq(
    "r_1" -> Seq(col("g").desc_nulls_first, col("k"), col("id")))

  private def reference(orders: Seq[(String, Seq[Column])]): Set[Seq[Any]] =
    orders.foldLeft(table) { case (df, (name, sort)) =>
      df.withColumn(name, row_number().over(Window.orderBy(sort: _*)).cast("long"))
    }.collect().map(_.toSeq).toSet

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (reuse <- Seq("true", "false"); aqe <- Seq("true", "false"))
    test(s"ranks equal an unpartitioned row_number (exchange.reuse=$reuse, adaptive=$aqe)") {
      for (orders <- Seq(three, one)) {
        val want = reference(orders)
        val got = withConf("spark.sql.exchange.reuse" -> reuse, "spark.sql.adaptive.enabled" -> aqe) {
          DistributedRank.globalRanks(table, orders: _*).collect()
        }
        assert(got.length == 3000)
        assert(got.head.schema.fieldNames.toSeq == table.columns.toSeq ++ orders.map(_._1))
        assert(got.map(_.toSeq).toSet == want, s"ranks differ for ${orders.map(_._1)}")
      }
    }

  test("a table smaller than the shuffle partitions, and an empty one") {
    val small = table.filter(col("id") < 3)
    val got = DistributedRank.globalRanks(small, three: _*).collect()
    assert(got.map(r => r.getAs[Long]("id") -> r.getAs[Long]("r_n")).toMap ==
      Map(0L -> 3L, 1L -> 2L, 2L -> 1L))
    assert(DistributedRank.globalRanks(table.filter(lit(false)), one: _*).collect().isEmpty)
  }
}
