package graft

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-faithful `people` fixture (FIXTURES.md §1): spaced column
  * names, a Phone-only-null row (must survive cleaning as "Unknown"), a
  * Job-Title-null row (must be dropped), one exact duplicate pair, birth
  * dates straddling 2000-01-01 and ages straddling 30.
  */
object PeopleFixture {

  val header = Seq(
    "User Id", "First Name", "Last Name", "Email", "Phone", "Date of Birth", "Job Title")

  // (id, first, last, email, phone, dob, job)
  val rows: Seq[Seq[String]] = Seq(
    Seq("u1", "Ada", "Lovelace", "ada@x.com", "555-0001", "1985-12-10", "Engineer"),
    Seq("u2", "Grace", "Hopper", "grace@x.com", null, "1990-06-09", "Admiral"), // null Phone → "Unknown"
    Seq("u3", "Alan", "Turing", "alan@x.com", "555-0003", "2001-06-23", "Mathematician"),
    Seq("u4", "Edsger", "Dijkstra", "edsger@x.com", "555-0004", "2005-05-11", null), // null Job → dropped
    Seq("u5", "Barbara", "Liskov", "barbara@x.com", "555-0005", "1939-11-07", "Professor"),
    Seq("u5", "Barbara", "Liskov", "barbara@x.com", "555-0005", "1939-11-07", "Professor"), // exact dup
    Seq("u6", "Tim", "Berners-Lee", "tim@x.com", "555-0006", "2003-06-08", "Inventor"))

  def df(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val data = rows.map(r => org.apache.spark.sql.Row(r: _*)).asJava
    spark.createDataFrame(data, schema)
  }

  /** Write the fixture as CSV and parquet under `dir`; returns
    * (csvPath, parquetPath).
    */
  def writeBoth(spark: SparkSession, dir: Path): (String, String) = {
    val csv = dir.resolve("csv").toString
    val pq = dir.resolve("parquet").toString
    val d = df(spark)
    d.coalesce(1).write.option("header", "true").mode("overwrite").csv(csv)
    d.coalesce(1).write.mode("overwrite").parquet(pq)
    (csv, pq)
  }
}
