package graft

import graft.sinks.AtomicSwap
import graft.streaming.IncrementalVectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** Dirty keys held on the driver drop from a store as literals
  * ([[AtomicSwap.dropKeys]]): `key IS NULL OR NOT key IN (...)`, which must
  * drop exactly the rows the left anti-join drops (threshold -1 forces the
  * join), nulls included. A bare `NOT IN` whose list holds a null drops
  * every row.
  */
class HeldKeysSpec extends SparkSpecBase {
  import spark.implicits._

  private val codebook: Seq[Seq[Double]] =
    Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0), Seq(0.0, -1.0))

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"heldkeys-$name").toFile
    d.delete(); d.getAbsolutePath
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.nonEmpty

  test("dropKeys: held keys drop as a filter, no join; at threshold -1 the anti-join") {
    val store = Seq((Option(1L), "a"), (Option(2L), "b"), (None, "n")).toDF("k", "v")
    val keys = Seq(Option(2L), None).toDF("k")
    assert(!hasJoin(AtomicSwap.dropKeys(store, keys, "k")))
    assert(withThreshold("-1")(hasJoin(AtomicSwap.dropKeys(store, keys, "k"))))
    assert(sorted(AtomicSwap.dropKeys(store, keys, "k")) === Seq("[1,a]", "[null,n]"))
    assert(sorted(store.filter(!col("k").isin(2L, null))).isEmpty,
      "a bare NOT IN holding a null drops every row")
  }

  test("upsertByKey on held keys: a null store key survives, a null dirty key drops nothing more than the anti-join") {
    def run(dir: String): Seq[String] = {
      AtomicSwap.upsertByKey(spark, dir,
        Seq((Option(1L), "a"), (Option(2L), "b"), (None, "n")).toDF("k", "v"),
        Seq.empty[Option[Long]].toDF("k"), "k")
      val fresh = Seq((Option(2L), "B"), (None, "N")).toDF("k", "v")
      AtomicSwap.upsertByKey(spark, dir, fresh, fresh.select("k"), "k")
      sorted(spark.read.parquet(dir))
    }
    val held = run(tmp("upsert-held"))
    assert(held === Seq("[1,a]", "[2,B]", "[null,N]", "[null,n]"))
    assert(withThreshold("-1")(run(tmp("upsert-join"))) === held)
  }

  test("IncrementalVectors.upsert on a held batch: a null vec_id survives, a null dirty vec_id drops nothing more than the anti-join") {
    def vecs(rows: (Option[Long], Int, Seq[Double])*): DataFrame =
      rows.toSeq.toDF("vec_id", "label", "v")
    def run(dir: String): (Seq[Int], Seq[String]) = {
      IncrementalVectors.upsert(spark, dir, vecs(
        (Some(0L), 0, Seq(0.9, 0.1)), (Some(1L), 0, Seq(0.1, 0.9)),
        (None, 1, Seq(-0.8, 0.1))), codebook)
      // vec 0 moves cell 0 -> 3; a second null-keyed vector lands in cell 1
      val affected = IncrementalVectors.upsert(spark, dir, vecs(
        (Some(0L), 0, Seq(0.1, -0.9)), (None, 2, Seq(0.2, 0.8))), codebook)
      (affected, sorted(IncrementalVectors.load(spark, dir)
        .select(col("vec_id"), col("label"), col("cell").cast("int"))))
    }
    val held = run(tmp("vec-held"))
    assert(held === ((Seq(0, 1, 3),
      Seq("[0,0,3]", "[1,0,1]", "[null,1,2]", "[null,2,1]"))))
    assert(withThreshold("-1")(run(tmp("vec-join"))) === held)
  }
}
