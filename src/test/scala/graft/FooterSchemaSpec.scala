package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquetSchema]] reads a table's schema from its parquet footer
  * on the driver. It must give exactly what Spark's inference gives, and
  * building a single-file table must launch no Spark job. */
class FooterSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private val sfSmall = s"${new java.io.File(sfTiny).getParent}/sf0.01"

  private def parquetFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  private def withNanosAsLong[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, prev)
  }

  test("footer schema == Spark's inferred schema: every table, directory fixtures, nanosAsLong on and off") {
    val files = parquetFiles(sfTiny) ++ parquetFiles(sfSmall)
    assert(files.size == 20, s"expected 10 tables per scale factor: $files")
    val dirs = TsEncodingSpec.writeAll().map(d => s"$d/events.parquet")
    for (on <- Seq(true, false); p <- files ++ dirs) withNanosAsLong(on) {
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema,
        s"nanosAsLong=$on: footer schema differs from Spark's inference for $p")
    }
  }

  test("Tables.t builds a single-file table without a Spark job") {
    val names = parquetFiles(sfTiny).map(p =>
      new java.io.File(p).getName.stripSuffix(".parquet"))
    names.foreach { n =>
      val jobs = jobsDuring(Tables.t(spark, sfTiny, n))
      assert(jobs == 0, s"Tables.t($n) launched $jobs Spark jobs")
    }
    // the counter sees the inference job the helper avoids
    val inferJobs = jobsDuring(spark.read.parquet(s"$sfTiny/orders.parquet"))
    assert(inferJobs >= 1, "schema inference ran no job: the counter is blind")
  }
}
