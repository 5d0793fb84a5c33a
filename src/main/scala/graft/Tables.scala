package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the TPC-H-ish parquet tables (TESTDATA.md). Each table
  * is `<name>.parquet` under `sfDir`: one file in the shipped layout, or
  * a directory of part files when `MakeSf` writes past k=16.
  *
  * Every table is read against its declared schema, as the reference
  * loads raw against `schema.json` and declares daily in DDL, so
  * building a query starts no footer-inference job.
  */
object Tables {

  /** The shape of each table: the types Spark's parquet inference gives
    * on every shipped sf directory (`TablesSpec` checks that), every
    * column nullable. `events.ts` is stored as a µs timestamp without
    * time zone, so it reads as TIMESTAMP_NTZ with no conversion.
    */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val schema = schemas.getOrElse(name,
      throw new IllegalArgumentException(s"no table named '$name'"))
    spark.read.schema(schema).parquet(s"$sfDir/$name.parquet")
  }
}
