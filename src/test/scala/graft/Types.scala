package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Typed `Dataset[T]` views of the testdata tables — TypedSpec's
  * fixture for compile-time field checks next to the engine's
  * `DataFrame`-shaped operators (schemas are dynamic at the library
  * boundary, SURVEY §1.3).
  */
object Types {
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
      c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.sql.Timestamp, o_orderpriority: String)

  def docs(spark: SparkSession, sfDir: String): Dataset[Doc] = {
    import spark.implicits._
    Tables.table(spark, sfDir, "documents").as[Doc]
  }
  def customers(spark: SparkSession, sfDir: String): Dataset[Customer] = {
    import spark.implicits._
    Tables.table(spark, sfDir, "customer").as[Customer]
  }
  def orders(spark: SparkSession, sfDir: String): Dataset[Order] = {
    import spark.implicits._
    Tables.table(spark, sfDir, "orders").as[Order]
  }
}
