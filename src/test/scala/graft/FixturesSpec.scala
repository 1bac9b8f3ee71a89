package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The build-once rule of [[Fixtures.once]], on a one-table sf directory
  * of three rows. */
class FixturesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val cache = "graft-spec-fixtures"

  /** A fresh sf directory holding one tiny table `t`. */
  private def tinySf(): String = {
    val d = Files.createTempDirectory("graft-fx").toString
    spark.range(3).write.parquet(s"$d/t.parquet")
    d
  }

  private def markerOf(dir: String) = new File(dir, Fixtures.Marker)

  test("a fixture lies under the session's warehouse, with its marker") {
    val wh = new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath).getAbsolutePath
    val dir = Fixtures.once(spark, cache, tinySf(), "t", "p1") { dir =>
      spark.range(1).write.parquet(dir)
    }
    assert(dir.startsWith(s"$wh/$cache/"), s"$dir is not under $wh")
    // the test session's warehouse is a temp dir: nothing lands in the checkout
    assert(!dir.startsWith(new File("").getAbsolutePath + "/"))
    assert(markerOf(dir).exists())
  }

  test("a build that throws leaves no marker; the next call rebuilds from an empty directory") {
    val d = tinySf()
    intercept[IllegalStateException] {
      Fixtures.once(spark, cache, d, "t", "fail") { dir =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, "leftover"), "half-built")
        throw new IllegalStateException("build failed")
      }
    }
    val path = Fixtures.dir(spark, cache, d, "t", "fail")
    assert(!markerOf(path).exists(), "a failed build must leave no marker")
    var seen = Seq("unset")
    val dir = Fixtures.once(spark, cache, d, "t", "fail") { dir =>
      seen = Option(new File(dir).list()).fold(Seq.empty[String])(_.toSeq)
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, "ok"), "")
    }
    assert(dir === path)
    assert(seen.isEmpty, s"the rebuild saw files of the failed attempt: $seen")
    assert(new File(dir).list().toSet === Set("ok", Fixtures.Marker))
  }

  test("concurrent callers on one key run the build exactly once") {
    val d = tinySf()
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 6).map { _ =>
      val t = new Thread(() => {
        start.await()
        results.add(Fixtures.once(spark, cache, d, "t", "race") { dir =>
          builds.incrementAndGet()
          Thread.sleep(200)
          Files.createDirectories(Paths.get(dir))
        })
      })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join(60000))
    assert(results.size === 6)
    assert(builds.get === 1)
    assert(results.toArray.distinct.length === 1)
  }

  test("a changed source fingerprint gives a new directory") {
    val d = tinySf()
    val builds = new AtomicInteger(0)
    def call() = Fixtures.once(spark, cache, d, "t", "fp") { dir =>
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(dir))
    }
    val first = call()
    assert(call() === first)
    assert(builds.get === 1)
    val src = new File(s"$d/t.parquet")
    assert(src.setLastModified(src.lastModified() - 60000L))
    val second = call()
    assert(second !== first)
    assert(builds.get === 2)
  }

  test("no source file names an absolute checkout path") {
    // split so this file does not match itself
    val needle = "\"/root" + "/repo"
    val hits = Seq("src/main", "src/test").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally files.close()
    }.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"absolute checkout paths:\n${hits.mkString("\n")}")
  }
}
