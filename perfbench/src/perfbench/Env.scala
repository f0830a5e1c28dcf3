package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.parallel.CollectionConverters._

/** Session, working copy of the corpus, and disk accounting for one run.
  * Everything lives under `work`, which the caller removes at exit.
  */
object Env {

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.store.dir", s"$work/stores")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType)))
  val FeedSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("label", IntegerType), StructField("v", ArrayType(DoubleType)),
    StructField("modified", TimestampType)))

  def docRows(docs: Seq[Gen.Doc]): Seq[Row] =
    docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))

  /** Write `rows` as ONE parquet file at `dest`, replacing any file there by
    * an atomic rename — readers see the old file or the new one, never a
    * partial write.
    */
  def writeParquetFile(spark: SparkSession, rows: Seq[Row], schema: StructType,
                       dest: String, staging: String): Unit = {
    val tmp = new File(s"$staging/${java.util.UUID.randomUUID()}")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file under $tmp, found ${part.length}")
    Files.move(part.head.toPath, new File(dest).toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    delete(tmp)
  }

  /** Write the corpus tables the served faces and the tick read, as three
    * concurrent one-task jobs.
    */
  def writeCorpus(spark: SparkSession, c: Gen.Corpus, dir: String, staging: String): Unit = {
    new File(dir).mkdirs()
    val tables: Seq[(Seq[Row], StructType, String)] = Seq(
      (docRows(c.docs), DocSchema, "documents"),
      (c.vecs.map(v => Row(v.id, v.v.toSeq, v.label)), VecSchema, "embeddings"),
      ((1 to c.customers).map(k => Row(k.toLong, f"Customer#$k%09d")), CustomerSchema, "customer"))
    tables.par.foreach { case (rows, schema, name) =>
      writeParquetFile(spark, rows, schema, s"$dir/$name.parquet", staging)
    }
  }

  val CorpusTables: Seq[String] = Seq("documents", "embeddings", "customer")

  /** The run's working copy of the corpus: a plain file copy of `src`. */
  def copyCorpus(src: String, dst: String): Unit = {
    new File(dst).mkdirs()
    CorpusTables.foreach(t => Files.copy(new File(s"$src/$t.parquet").toPath,
      new File(s"$dst/$t.parquet").toPath))
  }

  def feedRows(rows: Seq[Gen.ChangeRow]): Seq[Row] = rows.map { r =>
    Row(r.id, r.text, r.label, r.v.toSeq, microsToTimestamp(r.modifiedMicros))
  }

  def microsToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (relative path → (bytes, mtime)) of every regular file under `root`. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val base = new File(root).toPath
    if (!Files.exists(base)) Map.empty
    else {
      val it = Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(p => Files.isRegularFile(p)).map { p =>
          base.relativize(p).toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
        }.toMap
      } finally it.close()
    }
  }

  def bytesUnder(root: String): Long = listing(root).values.map(_._1).sum

  /** Data files (parquet parts, not checksums or markers) under `root`. */
  def dataFiles(root: String): Int =
    listing(root).keys.count(k => k.endsWith(".parquet") && !new File(k).getName.startsWith("."))

  /** Store versions under a served-store root that are no longer current:
    * every kind keeps exactly one current `graft-<kind>-<version>` dir once
    * it has been served against the final corpus.
    */
  def staleStoreDirs(root: String): Int = {
    val dirs = Option(new File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-")).map(_.getName)
    val kinds = dirs.map(_.stripPrefix("graft-").reverse.dropWhile(_ != '-').drop(1).reverse)
    dirs.size - kinds.distinct.size
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
