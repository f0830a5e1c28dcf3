package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * All loads are plain parquet scans; column pruning and filter pushdown are
  * left to Catalyst (verified in `PlanSpec` via `PushedFilters`/`ReadSchema`).
  *
  * Scale notes (100 TB): these would be partitioned tables (orders/lineitem by
  * date, events by day) registered in a catalog; the loaders isolate that
  * concern so query code never embeds physical layout. Dimension tables
  * (region/nation/supplier/part/customer) stay broadcastable far beyond this
  * test scale — query code marks them with `broadcast()` explicitly.
  */
object Tables {
  /** Inferred schema per parquet path, JVM-wide. A real deployment reads
    * schemas from the catalog (metastore), never from footers at plan time;
    * this cache is the library-local stand-in. Effect: the footer-inference
    * Spark job ("parquet at Tables.scala") runs once per table per JVM
    * instead of once per query — one fewer job on every operator after the
    * first touch (listener-measured; the ~0.05–0.1 s/job dispatch floor is
    * the entire cost of small queries locally). Keyed by path: a schema is
    * a property of the files, not of the session, and the testdata dirs
    * are immutable within a run.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // every operator loads through here, so this is the one chokepoint that
    // guarantees graft's native SQL functions resolve even on a session
    // built WITHOUT spark.sql.extensions=GraftExtensions (library consumers
    // with their own session). Idempotent and warn-free: a registry probe,
    // then an early return when the extensions path already registered them.
    graft.functions.GraftFunctions.register(spark)
    parquetCached(spark, s"$dir/$name.parquet")
  }

  /** Schema-cached parquet read for any FIXED-SCHEMA path (testdata tables,
    * the served stores). Content may be rewritten between reads — the cache
    * key carries a content version (driver-side listing, no Spark job), so
    * a rewrite that DOES change the schema re-infers instead of silently
    * reading stale columns as NULL.
    */
  private[graft] def parquetCached(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(cachedSchema(spark, path)).parquet(path)

  /** The schema of `path`'s current content, inferred once per version. */
  private def cachedSchema(spark: SparkSession, path: String): StructType =
    schemaCache.computeIfAbsent(
      s"$path@${contentVersion(spark, path)}",
      _ => spark.read.parquet(path).schema)

  /** Record the schema of `path`'s CURRENT content — called by
    * [[graft.sinks.AtomicSwap]] right after it swaps in files it wrote
    * from a frame of schema `written`, so the next [[parquetCached]] read
    * of a rewritten store skips footer inference. A parquet read reports
    * every field nullable, so that is what is cached. Older versions of the
    * path are evicted with it: a store rewritten every tick would otherwise
    * leave one entry per tick behind.
    */
  private[graft] def seedSchema(spark: SparkSession, path: String,
                                written: StructType): Unit = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    schemaCache.keySet.removeIf(_.startsWith(s"$path@"))
    schemaCache.put(s"$path@${contentVersion(spark, path)}",
      nullable(written).asInstanceOf[StructType])
  }

  /** Cheap content fingerprint of a parquet dir: max file mtime + total
    * bytes + file count from ONE driver-side listing. Used to key the
    * schema cache and the derived stores ([[DerivedStore]]) so a rewritten
    * source dir rebuilds its artifacts instead of serving stale results. A
    * catalog would own this at warehouse scale.
    */
  private[graft] def contentVersion(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val sts = fs.listStatus(p)
      if (sts.isEmpty) "empty"
      else s"${sts.map(_.getModificationTime).max}-${sts.map(_.getLen).sum}-${sts.length}"
    } catch { case _: java.io.FileNotFoundException => "absent" }
  }

  /** Register the whole catalog as session temp views — the `spark.sql`
    * face of the S2 static registry, so a user can run every ANSI query
    * the reference's Postgres accepts without touching the programmatic
    * API: `Tables.registerViews(spark, dir); spark.sql("SELECT ...")`.
    * `events` registers with its converted TimestampType `ts` (the shape
    * the oracles query); the raw epoch-micros face registers as
    * `events_raw` for watermark predicates that must push into the scan.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
    eventsRaw(spark, dir).createOrReplaceTempView("events_raw")
  }

  /** Spread a small-input, compute-heavy scan across the session's cores.
    *
    * The local parquet fixtures are single-row-group files, and a row group
    * is the atomic file-split unit — so the split planner hands the WHOLE
    * table to one task no matter how `maxPartitionBytes` is set, and a
    * per-row-expensive face (analyzer, hash family, fuzzy scorer) then
    * serializes on one core while the other N−1 idle (bench diag: the 1-job
    * scan faces all showed cpuSec ≈ wall, i.e. single-core execution).
    * One round-robin exchange of the (tiny) input fixes that: the bytes
    * move once, the per-row compute fans out N ways (guide §2.4/§8: decide
    * placement with a cheap move when the compute dominates the bytes).
    *
    * Scale-adaptive by construction, not a local[] constant (guide §2):
    * the exchange is added ONLY when the listed input is too small to fill
    * the cluster at the session's own split size
    * (bytes < cores × maxPartitionBytes). At warehouse scale the scan
    * already yields ≥ cores splits and this is the identity — no shuffle
    * of a 100 TB corpus sneaks in. Filters/pruning still reach the scan:
    * Catalyst pushes predicates and column pruning through Repartition
    * (pinned in PlanSpec for the spread faces).
    */
  private[graft] def spreadForCompute(spark: SparkSession, dir: String,
                                      name: String): DataFrame = {
    val df = table(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = listedBytes(spark, s"$dir/$name.parquet")
    if (bytes >= 0 && bytes < cores.toLong * maxSplit) df.repartition(cores)
    else df
  }

  /** Total listed bytes of a parquet file/dir (driver-side, one listing —
    * same cost class as [[contentVersion]]); −1 when absent.
    */
  private def listedBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).map(_.getLen).sum
    catch { case _: java.io.FileNotFoundException => -1L }
  }

  /** [[documents]] with the compute-spread guard — use at scan faces whose
    * per-row work (analyze / hash / score) dominates the row bytes.
    */
  private[graft] def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    spreadForCompute(spark, dir, "documents")

  // NOTE (r16, measured): the spread is ONLY for faces whose per-row
  // compute dominates the row bytes. Applying it to shuffle-bound
  // aggregate faces (pricing_summary, denorm_docs, approx_distinct,
  // events_hourly) REGRESSED them 1.2–3.4× at sf0.1 — the extra
  // round-robin pass of the full fact costs more than the serialized
  // partial aggregation saves. Those faces keep their bare scans.

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.ts` is parquet timestamp[us] (inferred as TIMESTAMP_NTZ — the
    * stream source's wall-clock grain, no zone). Session TZ is pinned to UTC
    * everywhere, so converting the raw micros to TimestampType is
    * engine-deterministic. (Earlier generations of the testdata stored
    * timestamp[ns]; the loaders read the PHYSICAL int64 and carry the unit
    * explicitly, so a regenerated file changes two lines here, not the
    * operator tier.)
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir)
      .withColumn("ts", expr("timestamp_micros(ts)"))

  /** Raw view: `ts` as the epoch-MICROsecond long — the file's physical
    * int64, requested via an explicit schema (LongType over timestamp[us]
    * reads the stored values verbatim, no conversion kernel). Watermark
    * predicates go HERE — a long-vs-long comparison pushes down to the
    * parquet scan (row-group pruning), while a predicate on the converted
    * timestamp is an expression over the column and does not. Asserted in
    * PlanSpec; the natural timestamp spelling is rescued by
    * [[graft.plans.PushRawEpochFilter]].
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val path = s"$dir/events.parquet"
    val raw = StructType(cachedSchema(spark, path).map {
      case f if f.name == "ts" => f.copy(dataType = LongType)
      case f => f
    })
    spark.read.schema(raw).parquet(path)
  }
}
