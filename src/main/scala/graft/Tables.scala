package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Table access for the driver-generated test warehouse (repo:TESTDATA.md).
  *
  * The reference's storage kernel (pages + mmap + WAL,
  * `Kernel/Source/Utility/FileBuffer.cpp:619-648`) is deliberately NOT
  * ported: Parquet columnar files + Spark's vectorized reader replace the
  * page/buffer layer entirely (SURVEY.md §1.3). A table scan of a `data`
  * collection (`Kernel/README.md:56-60`) is `spark.read.parquet` — filters
  * and projections applied on top reach the scan via Catalyst pushdown.
  *
  * What the reference's buffer manager keeps for a page
  * (`Kernel/Source/Utility/Buffer.h:52-86`) this object keeps for a
  * footer: every engine-side parquet read that lets Spark infer the
  * schema goes through [[scan]], which remembers the inferred data
  * schema. A plain `spark.read.parquet(p)` runs one Spark job per call
  * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`, even with
  * `mergeSchema` off) just to read one footer; a cached scan runs none.
  *
  * The cache key is what Spark's own inference depends on, so a hit
  * yields the schema a fresh inference would:
  *   - the ROOT whose files the inference reads. Spark sorts the leaf
  *     files by path and reads the first footer; with roots that do not
  *     nest, that file lies under the root that sorts first with a `/`
  *     appended (for a store run of `data-<uuid>` dirs, the smallest dir);
  *   - that root's leaf listing (path, length, mtime) as Spark lists it,
  *     hidden `_`/`.` names skipped — a path rewritten in place gets new
  *     files and so a new key;
  *   - the session confs that change inference (`binaryAsString`,
  *     `int96AsTimestamp`, `inferTimestampNTZ.enabled`,
  *     `legacy.parquet.nanosAsLong`, case sensitivity) — the values, not
  *     the session, so no session is pinned;
  *   - the read options.
  * Only the footer part (the relation's data schema) is cached: the
  * partition columns are re-discovered by every read, as without the
  * cache. A hit whose discovered partition columns overlap the cached
  * data columns would order them differently from a fresh read, so it
  * falls back to inference. `mergeSchema` (conf or option), globs, file
  * selection options and an inference root without data files bypass
  * the cache. The listing is taken BEFORE the read, so a file replaced
  * mid-read can only leave an entry under a listing no later read sees. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan one table of the warehouse at `dir`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    scan(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` with the schema inference cached. */
  def scan(spark: SparkSession, paths: String*): DataFrame =
    scan(spark, Map.empty[String, String], paths: _*)

  /** `spark.read.options(options).parquet(paths: _*)`, inference cached. */
  def scan(spark: SparkSession, options: Map[String, String], paths: String*): DataFrame = {
    val key = schemaKey(spark, options, paths)
    def read(schema: Option[StructType]) = {
      val reader = spark.read.options(options)
      schema.fold(reader)(reader.schema).parquet(paths: _*)
    }
    key.flatMap(cache.get)
      .map(data => read(Some(data)) -> data)
      .collect { case (df, data) if !partitionsOverlap(spark, df, data) => df }
      .getOrElse {
        val df = read(None)
        for (k <- key; r <- fileRelation(df)) cache.put(k, r.dataSchema)
        df
      }
  }

  /** The schema of [[scan]] over `paths`. */
  def schemaOf(spark: SparkSession, paths: String*): StructType =
    scan(spark, paths: _*).schema

  private final case class Key(root: String, leaves: Seq[(String, Long, Long)],
      confs: Seq[Boolean], options: Map[String, String])

  /** A bounded LRU map; entries are a root's listing and a schema, so
    * the bound keeps it to a few MB even for wide tables. */
  private object cache {
    private val MaxEntries = 1024
    private val m = new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
        size() > MaxEntries
    }
    def get(k: Key): Option[StructType] = m.synchronized(Option(m.get(k)))
    def put(k: Key, s: StructType): Unit = m.synchronized { m.put(k, s); () }
    def clear(): Unit = m.synchronized(m.clear())
  }

  /** Drop every cached schema (tests compare a hit with a fresh inference). */
  private[graft] def clearSchemaCache(): Unit = cache.clear()

  // options that change which files Spark lists; the key mirrors the
  // default listing only
  private val fileSelectionOptions =
    Set("pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter")

  private def isGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  /** Spark's hidden-name rule for listed paths (`_`/`.` prefixes, except
    * `_`-names that are partition dirs, and in-flight copies). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def schemaKey(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[Key] = {
    val conf = spark.sessionState.conf
    val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val merge = opts.get("mergeschema").fold(conf.isParquetSchemaMergingEnabled)(
      _.trim.equalsIgnoreCase("true"))
    if (paths.isEmpty || merge || paths.exists(isGlob) ||
        opts.keySet.exists(fileSelectionOptions)) None
    else scala.util.Try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = paths.map { p =>
        val hp = new Path(p)
        hp.getFileSystem(hadoopConf).makeQualified(hp)
      }.minBy(_.toString + "/")
      val leaves = listing(root.getFileSystem(hadoopConf), root)
      if (!leaves.exists(_._2 > 0)) None
      else Some(Key(root.toString, leaves,
        Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
          conf.parquetInferTimestampNTZEnabled, conf.legacyParquetNanosAsLong,
          conf.caseSensitiveAnalysis),
        opts))
    }.toOption.flatten
  }

  /** Every visible leaf file under `p` (or `p` itself if it is a file) as
    * (path, length, mtime), sorted by path. */
  private[graft] def listing(fs: FileSystem, p: Path): Vector[(String, Long, Long)] = {
    def walk(st: FileStatus): Vector[FileStatus] =
      if (!st.isDirectory) Vector(st)
      else fs.listStatus(st.getPath).toVector
        .filterNot(s => hidden(s.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(p))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
  }

  private def fileRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Some(r)
        case _ => None
      }
      case _ => None
    }

  /** True when `df`'s discovered partition columns clash with the
    * `data` schema it was read with (or `df` is no file scan). */
  private def partitionsOverlap(spark: SparkSession, df: DataFrame,
      data: StructType): Boolean = {
    val cs = spark.sessionState.conf.caseSensitiveAnalysis
    def names(s: StructType) =
      s.fieldNames.map(n => if (cs) n else n.toLowerCase(java.util.Locale.ROOT)).toSet
    fileRelation(df).forall(r => names(r.partitionSchema).intersect(names(data)).nonEmpty)
  }
}
