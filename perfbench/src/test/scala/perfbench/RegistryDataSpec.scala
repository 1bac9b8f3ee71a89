package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RegistryDataSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("perfbench-data").toString
  private lazy val spark: SparkSession = Main.session(2, 2, dir, rocksDb = false)

  override def afterAll(): Unit = spark.stop()

  private def rows(d: String, t: String): Seq[String] =
    spark.read.parquet(s"$d/$t.parquet").collect().map(_.toString).sorted.toSeq

  test("the same seed writes the same tables, another seed other rows") {
    RegistryData.write(spark, s"$dir/a", 0.0005, 7)
    RegistryData.write(spark, s"$dir/b", 0.0005, 7)
    RegistryData.write(spark, s"$dir/c", 0.0005, 8)
    RegistryData.Tables.foreach { t =>
      assert(new java.io.File(s"$dir/a/$t.parquet").isFile, t)
      assert(rows(s"$dir/a", t) == rows(s"$dir/b", t), t)
    }
    assert(rows(s"$dir/a", "lineitem") != rows(s"$dir/c", "lineitem"))
    assert(rows(s"$dir/a", "orders").size == 750)
  }
}
