package graft

import graft.sinks.AtomicSwap
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

/** The derived-store registry: one build per cold store however many
  * threads ask, builders free to resolve their own dependencies, nothing
  * memoized by a failed build, crash debris promoted instead of rebuilt,
  * and a key no two source dirs share.
  */
class DerivedStoreSpec extends SparkSpecBase {
  import spark.implicits._

  /** A fresh source dir: its (absent) documents table keys fresh stores. */
  private def src(name: String): String =
    Files.createTempDirectory(s"derived-$name").toAbsolutePath.toString

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  private def concurrently[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = { start.await(); body(i) }
      }))
      start.countDown()
      fs.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("8 threads resolving one cold store build it exactly once") {
    val dir = src("once")
    val builds = new AtomicInteger(0)
    val paths = concurrently(8) { _ =>
      DerivedStore.ensure(spark, "once", dir, "documents.parquet") { p =>
        builds.incrementAndGet()
        Thread.sleep(200) // hold the build open while the others arrive
        AtomicSwap.replace(spark, Seq(1L, 2L).toDF("x"), p)
      }
    }
    assert(builds.get === 1)
    assert(paths.toSet.size === 1)
    assert(Tables.parquetCached(spark, paths.head).count() === 2)
  }

  test("two cold stores build at the same time: the lock is per path") {
    val dir = src("parallel")
    val bothBuilding = new CountDownLatch(2)
    val met = concurrently(2) { i =>
      var sawOther = false
      DerivedStore.ensure(spark, s"parallel$i", dir, "documents.parquet") { p =>
        bothBuilding.countDown()
        sawOther = bothBuilding.await(60, TimeUnit.SECONDS)
        AtomicSwap.replace(spark, Seq(i.toLong).toDF("x"), p)
      }
      sawOther
    }
    assert(met === Seq(true, true), "one build waited for the other to finish")
  }

  test("a builder that resolves another cold store inline completes") {
    val dir = src("nested")
    val outer = DerivedStore.parquet(spark, "outer", dir, "documents.parquet") {
      DerivedStore.parquet(spark, "inner", dir, "documents.parquet")(
        Seq(1L, 2L, 3L).toDF("x")).select((col("x") * 2).as("y"))
    }
    assert(outer.as[Long].collect().sorted.toSeq === Seq(2L, 4L, 6L))
    assert(exists(DerivedStore.path(spark, "inner", dir, "documents.parquet")))
  }

  test("a builder that throws leaves no live dir, memoizes nothing, and the next call builds") {
    val dir = src("fail")
    val p = DerivedStore.path(spark, "fail", dir, "documents.parquet")
    val e = intercept[IllegalStateException] {
      DerivedStore.ensure(spark, "fail", dir, "documents.parquet") { path =>
        AtomicSwap.replaceWith(spark, path) { staging =>
          Seq(1L).toDF("x").write.mode("overwrite").parquet(staging)
          throw new IllegalStateException("source unavailable")
        }
      }
    }
    assert(e.getMessage === "source unavailable")
    assert(!exists(p) && !exists(s"$p.staging"))
    val builds = new AtomicInteger(0)
    DerivedStore.ensure(spark, "fail", dir, "documents.parquet") { path =>
      builds.incrementAndGet()
      AtomicSwap.replace(spark, Seq(5L).toDF("x"), path)
    }
    assert(builds.get === 1)
    assert(Tables.parquetCached(spark, p).as[Long].collect().toSeq === Seq(5L))
  }

  test("a complete staging with no live dir is promoted, not rebuilt") {
    val dir = src("recover")
    val p = DerivedStore.path(spark, "recover", dir, "documents.parquet")
    Seq(7L).toDF("x").write.parquet(s"$p.staging") // committed, never renamed
    val builds = new AtomicInteger(0)
    val out = DerivedStore.ensure(spark, "recover", dir, "documents.parquet") { _ =>
      builds.incrementAndGet(); ()
    }
    assert(builds.get === 0)
    assert(out === p && !exists(s"$p.staging"))
    assert(Tables.parquetCached(spark, p).as[Long].collect().toSeq === Seq(7L))
  }

  test("source dirs whose 32-bit String.hashCode collides get different stores") {
    val (a, b) = ("/tmp/graft_tag_Aa", "/tmp/graft_tag_BB")
    // same content version (both absent) and the same String.hashCode
    assert(s"$a@absent".hashCode === s"$b@absent".hashCode)
    val pa = DerivedStore.path(spark, "postings", a, "documents.parquet")
    val pb = DerivedStore.path(spark, "postings", b, "documents.parquet")
    assert(pa !== pb)
    // the name keeps its shape: kind, then a 64-bit hex tag with no '-'
    Seq(pa, pb).foreach(p =>
      assert(Paths.get(p).getFileName.toString.matches("graft-postings-[0-9a-f]{16}"), p))
  }
}
