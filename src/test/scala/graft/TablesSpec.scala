package graft

import java.io.File

import org.apache.spark.grafttest.JobCount
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` reads every table against its declared schema: the shape
  * must be the one parquet inference gives, and a read must start no
  * job to learn it.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val shipped = (Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf") :+
    "perfbench/data/sf0.1").filter(new File(_).isDirectory)
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every declared schema is the schema parquet inference gives") {
    assert(Tables.schemas.keySet == names.toSet)
    assert(shipped.nonEmpty)
    for (dir <- shipped; name <- names)
      assert(Tables.schemas(name) ==
        spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir $name")
  }

  test("reading all 10 tables launches no job") {
    val dir = shipped.head
    val jobs = JobCount(spark.sparkContext) {
      names.foreach(name => Tables(spark, dir, name).schema)
    }
    assert(jobs == 0)
  }

  test("reading events leaves the session's parquet settings alone") {
    val session = spark.newSession()
    val ts = Tables(session, shipped.head, "events")
      .selectExpr("min(ts)").head().get(0)
    assert(ts.isInstanceOf[java.time.LocalDateTime])
    assert(!session.conf.getAll.contains("spark.sql.legacy.parquet.nanosAsLong"))
  }

  test("an unknown table name is refused") {
    intercept[IllegalArgumentException](Tables(spark, shipped.head, "lineitems"))
  }
}
