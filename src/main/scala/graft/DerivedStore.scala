package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The registry of derived stores: every served artifact (postings, models,
  * dictionaries, media tables, ...) that is built once per source version
  * and only read after that. This object alone knows a store's key, its
  * root and the build-once policy.
  *
  * Key: `$root/graft-$kind-$tag`, one path per (kind, source dir, content
  * version of each source table the store reads). A rewrite of any source
  * yields a NEW path, so a stale store is never read again, and a shared
  * root lets a later JVM reuse a finished build. The kind string is the
  * store's layout identity: a builder whose layout or schema changes gets a
  * new kind (`postingsbkt2` → `postingsbkt3`).
  *
  * Build once: the path last resolved per (kind, dir) is the fast path. On
  * a miss the caller takes the lock of that (kind, dir) (never a global
  * one: cold stores build in parallel), promotes a complete staging a crash
  * left behind, and builds only if nothing lives at the path. A builder may
  * resolve the stores it depends on inline: it holds only its own kind's
  * lock, and the store dependency graph has no cycles. Resolving a new
  * version replaces the older entry, so a source rewritten every tick
  * leaves one entry per (kind, dir) behind.
  *
  * Memo: a driver-side value derived once per source version (a fitted
  * model, a collected report, a term table) is held under the same key and
  * lock ([[memo]]); resolving a new version drops the older value of the
  * same kind and dir. A held relation ([[held]]) is a memo of
  * a derived relation small enough to broadcast, kept as a `LocalRelation`:
  * a query over it plans no scan, and Catalyst folds a filter, project or
  * limit over it into another local relation, which collects with no Spark
  * job at all. Stores, memos and held relations are one key space, so this
  * object alone decides what a version is and when it is superseded.
  */
object DerivedStore {

  /** Driver-local default root; `spark.graft.store.dir` points it at a
    * shared filesystem on a real cluster (scheme-qualified paths resolve
    * their own FS through AtomicSwap and the loaders). Its name is fresh per
    * JVM, so no later JVM can reuse it: it is deleted when the JVM exits.
    */
  private lazy val localRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft-stores-").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(root))
    root.toString
  }

  /** The path last resolved per (kind, dir), and one lock per (kind, dir). */
  private val resolved = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  private def lock(kind: String, dir: String): AnyRef =
    locks.computeIfAbsent((kind, dir), _ => new Object)

  /** The (resolved, locks) entries held for source dir `dir`. */
  private[graft] def registrySizes(dir: String): (Int, Int) = {
    import scala.jdk.CollectionConverters._
    (resolved.keySet.asScala.count(_._2 == dir), locks.keySet.asScala.count(_._2 == dir))
  }

  /** The store's location for the CURRENT content of `$dir/<each source>`. */
  def path(spark: SparkSession, kind: String, dir: String, sources: String*): String = {
    require(sources.nonEmpty, s"store $kind names no source")
    val root = spark.conf.getOption("spark.graft.store.dir").getOrElse(localRoot)
    val versions = sources.map(s => Tables.contentVersion(spark, s"$dir/$s"))
    s"$root/graft-$kind-${tag(s"$dir@${versions.mkString("+")}")}"
  }

  /** 64 bits of SHA-256 in hex: wide enough that two source dirs never
    * share a store (a 32-bit `String.hashCode` maps `…Aa` and `…BB` to one
    * tag), and free of `-`, which ends the kind in a store dir's name.
    */
  private[graft] def tag(key: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${java.nio.ByteBuffer.wrap(d).getLong}%016x"
  }

  /** Resolve the store, building it first if nothing lives at its path;
    * returns the path. `build` gets the path and must write it atomically
    * (`AtomicSwap.replace`/`replaceWith`/`replaceParts`,
    * `IncrementalPostings.upsert`, `IncrementalVectors.upsert`). A build
    * that throws memoizes nothing: the next call builds again.
    */
  def ensure(spark: SparkSession, kind: String, dir: String, sources: String*)
            (build: String => Unit): String = {
    val p = path(spark, kind, dir, sources: _*)
    if (resolved.get((kind, dir)) != p) lock(kind, dir).synchronized {
      if (resolved.get((kind, dir)) != p) {
        graft.sinks.AtomicSwap.recover(spark, p)
        if (!graft.sinks.AtomicSwap.fs(spark, p).exists(new org.apache.hadoop.fs.Path(p)))
          build(p)
        resolved.put((kind, dir), p)
      }
    }
    p
  }

  /** A one-relation parquet store: `df` written once, then served. */
  def parquet(spark: SparkSession, kind: String, dir: String, sources: String*)
             (df: => DataFrame): DataFrame =
    Tables.parquetCached(spark,
      ensure(spark, kind, dir, sources: _*)(graft.sinks.AtomicSwap.replace(spark, df, _)))

  /** The memoized value per (kind, source dir): its version key and value. */
  private val memos = new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Any)]()

  /** `compute` once per content version of the `sources` of `dir`, held on
    * the driver under the store key (kind, dir, source versions) and taken
    * under that (kind, dir)'s lock; resolving a new version drops the older
    * value of the same kind and dir. Nothing is written, and a compute that
    * throws memoizes nothing.
    */
  def memo[A](spark: SparkSession, kind: String, dir: String, sources: String*)
             (compute: => A): A =
    memoUsable(spark, kind, dir, sources: _*)((_: A) => true)(compute)

  /** [[memo]], recomputing a current value that `usable` rejects. */
  private def memoUsable[A](spark: SparkSession, kind: String, dir: String, sources: String*)
                           (usable: A => Boolean)(compute: => A): A = {
    val key = path(spark, kind, dir, sources: _*)
    def current: Option[A] = Option(memos.get((kind, dir)))
      .collect { case (k, v) if k == key => v.asInstanceOf[A] }.filter(usable)
    current.getOrElse(lock(kind, dir).synchronized {
      current.getOrElse {
        val v = compute
        memos.put((kind, dir), (key, v))
        v
      }
    })
  }

  /** The version keys memoized for (kind, dir): at most one. */
  private[graft] def memoVersions(kind: String, dir: String): Seq[String] =
    Option(memos.get((kind, dir))).map(_._1).toSeq

  /** A relation held on the driver: its rows in build order and the same
    * rows as a `LocalRelation` of the session that built it.
    */
  final class Held private[DerivedStore] (val df: DataFrame, val rows: IndexedSeq[Row]) {
    /** The rows as a broadcast variable, for lookups inside a plan's tasks:
      * made once per held version on first use (no Spark job), and freed by
      * Spark's cleaner once the version is dropped and unreachable.
      */
    lazy val broadcastRows: org.apache.spark.broadcast.Broadcast[IndexedSeq[Row]] =
      df.sparkSession.sparkContext.broadcast(rows)
  }

  /** `df` collected and [[memo]]ized on the driver, for the session that
    * asks (another session collects again), while the `sources` together
    * list fewer bytes than `spark.sql.autoBroadcastJoinThreshold`, the size
    * Spark itself would ship to every task; above it (or with the threshold
    * at -1, or a source absent) this is `None` and the caller keeps its
    * parquet plan. A rewrite of any source is a new version, as for [[memo]].
    */
  def held(spark: SparkSession, kind: String, dir: String, sources: String*)
          (df: => DataFrame): Option[Held] = {
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val bytes = sources.map(s => Tables.listedBytes(spark, s"$dir/$s"))
    if (bytes.exists(_ < 0) || bytes.sum >= limit) None
    else Some(memoUsable(spark, kind, dir, sources: _*)((h: Held) => h.df.sparkSession eq spark) {
      val d = df
      val rows = d.collect()
      new Held(spark.createDataFrame(java.util.Arrays.asList(rows: _*), d.schema),
        rows.toIndexedSeq)
    })
  }
}
