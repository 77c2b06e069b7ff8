package graft.perfbench

import graft.Tables
import graft.core.BalooFrame
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layer (d): pandas-shaped `BalooFrame`/`BalooSeries` pipelines, each
  * beside the DataFrame plan a user would write by hand for the same
  * result. Both sides of a pair must give the same fingerprint.
  */
object Core {
  val names: Seq[String] = Seq("mask_arith", "groupby_agg", "merge", "sort_head", "drop_dups")

  // (l_orderkey, l_linenumber) repeats in this data; with the part and
  // supplier keys it is unique, as a BalooSeries index must be.
  private val key = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  def pair(name: String, s: SparkSession, dir: String): (() => DataFrame, () => DataFrame) = {
    def li = Tables.lineitem(s, dir)
    name match {
      case "mask_arith" => (
        () => {
          val f = new BalooFrame(
            li.select((key ++ Seq("l_quantity", "l_extendedprice", "l_discount")).map(col): _*), key)
          val hit = f.filter(f("l_quantity") > 30.0)
          (hit("l_extendedprice") * (hit("l_discount") * -1.0 + 1.0)).df
        },
        () => li.filter(col("l_quantity") > 30.0).select(key.map(col) :+
          (col("l_extendedprice") * (col("l_discount") * -1.0 + 1.0)).as("l_extendedprice"): _*))
      case "groupby_agg" => (
        () => new BalooFrame(li.select("l_returnflag", "l_quantity", "l_extendedprice"), Nil)
          .groupby("l_returnflag")
          .agg(Map("l_quantity" -> "min", "l_extendedprice" -> "max")).df,
        () => li.groupBy("l_returnflag").agg(max("l_extendedprice").as("l_extendedprice"),
          min("l_quantity").as("l_quantity")))
      case "merge" =>
        def o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey").as("custkey"),
          col("o_totalprice"))
        def c = Tables.customer(s, dir).select(col("c_custkey").as("custkey"), col("c_name"),
          col("c_nationkey"))
        (() => new BalooFrame(o, Nil).merge(new BalooFrame(c, Nil), Seq("custkey")).df,
          () => o.join(c, Seq("custkey"), "inner"))
      case "sort_head" => (
        () => new BalooFrame(li.select((key :+ "l_extendedprice").map(col): _*), key)
          .sortValues(Seq("l_extendedprice"), ascending = false).head(10).df,
        () => li.select((key :+ "l_extendedprice").map(col): _*)
          .orderBy(key.map(col): _*).limit(10))
      case "drop_dups" => (
        () => new BalooFrame(
            li.select((key ++ Seq("l_quantity", "l_extendedprice")).map(col): _*), key)
          .dropDuplicates(Seq("l_orderkey"), "max").df,
        () => li.groupBy("l_orderkey").agg(max("l_quantity").as("l_quantity"),
          max("l_extendedprice").as("l_extendedprice")))
    }
  }
}
