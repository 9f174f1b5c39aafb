package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Pluggable storage-handler seam — the reference's engine abstraction
  * (`/root/reference/src/main/scala/org/vitrivr/adampro/storage/StorageHandler.scala`,
  * engines in `storage/engine/`: Parquet, ORC, Avro, JDBC, Solr, …).
  *
  * v1 ships the file-format handlers (Parquet/ORC/JSON/CSV); the trait
  * is the extension point a JDBC/Solr/Cassandra handler would implement
  * (each maps to a Spark DataSource, so predicates pushed via `.filter`
  * reach the source through Catalyst — no engine-specific pushdown
  * plumbing needed, unlike the reference's per-engine predicate
  * rendering, e.g. `PostgresqlEngine.scala:180-187`).
  */
trait StorageHandler {
  def name: String
  /** Handler configuration surfaced over the wire (the reference's
    * per-attribute handler detail in `getAttributeProperties`) — format,
    * key column, bucket count, connection url, whatever parameterizes
    * THIS handler. Wire-safe strings only; no credentials. */
  def params: Map[String, String] = Map.empty
  def create(spark: SparkSession, storename: String, df: DataFrame): Unit =
    write(spark, storename, df, overwrite = true)
  def read(spark: SparkSession, storename: String,
           predicates: Seq[Column] = Nil): DataFrame
  def write(spark: SparkSession, storename: String, df: DataFrame,
            overwrite: Boolean): Unit
  def drop(spark: SparkSession, storename: String): Unit
  def exists(spark: SparkSession, storename: String): Boolean
}

/** File-format handler over a Spark DataSource format. */
class FileFormatHandler(val name: String, format: String,
                        options: Map[String, String] = Map.empty) extends StorageHandler {

  override def params: Map[String, String] = Map("format" -> format) ++ options

  override def read(spark: SparkSession, storename: String,
                    predicates: Seq[Column]): DataFrame = {
    val df = spark.read.options(options).format(format).load(storename)
    predicates.foldLeft(df)(_ filter _) // pushed to the source by Catalyst
  }

  override def write(spark: SparkSession, storename: String, df: DataFrame,
                     overwrite: Boolean): Unit =
    df.write.mode(if (overwrite) "overwrite" else "append")
      .options(options).format(format).save(storename)

  override def drop(spark: SparkSession, storename: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(storename)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  override def exists(spark: SparkSession, storename: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(storename)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** JDBC storage handler — the first non-file engine, the seam the
  * reference fills with PostgreSQL (`storage/engine/PostgresqlEngine.scala`).
  * Backed by Spark's JDBC DataSource, so predicate pushdown to the remote
  * database comes from Catalyst (`PushedFilters` on the JDBC scan) instead
  * of the reference's hand-rendered per-engine SQL
  * (`PostgresqlEngine.scala:180-187`). `url` addresses the database;
  * `storename` is the table. Works against any DriverManager-visible
  * driver (embedded Derby ships with Spark's jars).
  *
  * DIALECT ASSUMPTIONS (documented, not proven live): this sandbox has
  * no network egress and no pg-wire server, so the pushdown suite
  * (`StorageHandlerSpec`) runs against embedded Derby only. What Spark
  * emits to any dialect is standard and small: the scan is
  * `SELECT <cols> FROM <dbtable> WHERE <pushed filters>` where pushed
  * filters are compiled by Spark's per-dialect `JdbcDialect`
  * (quoting, type literals) — for PostgreSQL that is the built-in
  * `PostgresDialect`, which renders `=, <>, <, >, <=, >=, IN, LIKE,
  * IS NULL, AND/OR/NOT` plus (Spark 4) aggregate/limit pushdown where
  * `supportsExpressions` allows. Writes are `CREATE TABLE` from the
  * dialect's type map + batched `INSERT INTO ... VALUES (?,...)`;
  * `drop` issues `DROP TABLE <dbtable>`. None of this is
  * handler-rendered SQL — the handler only sets options — so the
  * single untested surface is the remote dialect's type mapping, which
  * Spark owns. Against a real PostgreSQL, run `StorageHandlerSpec`
  * with `url = jdbc:postgresql://...` to convert this note into a
  * green spec case. */
class JdbcHandler(val name: String, url: String,
                  options: Map[String, String] = Map.empty) extends StorageHandler {

  // options may carry credentials — only the url crosses the wire
  override def params: Map[String, String] = Map("url" -> url)

  private def opts(storename: String): Map[String, String] =
    options ++ Map("url" -> url, "dbtable" -> storename)

  override def read(spark: SparkSession, storename: String,
                    predicates: Seq[Column]): DataFrame = {
    val df = spark.read.format("jdbc").options(opts(storename)).load()
    predicates.foldLeft(df)(_ filter _) // pushed to the database by Catalyst
  }

  override def write(spark: SparkSession, storename: String, df: DataFrame,
                     overwrite: Boolean): Unit =
    df.write.mode(if (overwrite) "overwrite" else "append")
      .format("jdbc").options(opts(storename)).save()

  /** Direct connections must carry the same credentials/options the
    * Spark source uses (user/password/...). */
  private def connect(): java.sql.Connection = {
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, props)
  }

  override def drop(spark: SparkSession, storename: String): Unit = {
    val conn = connect()
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE $storename") finally st.close()
    } finally conn.close()
  }

  override def exists(spark: SparkSession, storename: String): Boolean = {
    val conn = connect()
    try {
      // unquoted identifiers are case-normalized per-database; probe both
      val meta = conn.getMetaData
      def probe(n: String) = {
        val rs = meta.getTables(null, null, n, null)
        try rs.next() finally rs.close()
      }
      probe(storename) || probe(storename.toUpperCase) || probe(storename.toLowerCase)
    } finally conn.close()
  }
}

/** Embedded key-value handler — the Spark-native answer to the
  * reference's LevelDB/PalDB engines (`storage/engine/LevelDbEngine.scala:28`,
  * `PalDbEngine.scala:30`), which exist to serve RANDOM (point-lookup)
  * access. Instead of an external KV library, the store is
  * bucket-partitioned, key-sorted parquet: rows land in
  * `__kv_bucket=<hash(key) mod n>/` directories, sorted by key within
  * each file.
  *
  * Point lookups ([[KeyValueHandler.get]]) recompute the keys' buckets
  * with the same Catalyst `hash` kernel and filter on the partition
  * column, so Catalyst prunes to the matching bucket DIRECTORIES
  * (plan-asserted `PartitionFilters`) and the key filter's min/max
  * row-group stats skip within them — at 100 TB a lookup touches
  * 1/nBuckets of the data at directory level and a handful of row groups,
  * no full scan, no external service. Full scans ([[read]]) behave like
  * any parquet handler (the bucket column is dropped). */
class KeyValueHandler(name: String, keyCol: String, nBuckets: Int = 64)
  extends FileFormatHandler(name, "parquet") {
  import org.apache.spark.sql.functions._

  override def params: Map[String, String] =
    Map("format" -> "parquet", "key" -> keyCol, "buckets" -> nBuckets.toString)

  private val BucketCol = "__kv_bucket"

  override def write(spark: SparkSession, storename: String, df: DataFrame,
                     overwrite: Boolean): Unit = {
    require(df.columns.contains(keyCol), s"key column $keyCol missing")
    df.withColumn(BucketCol, pmod(hash(col(keyCol)), lit(nBuckets)))
      .repartition(nBuckets, col(BucketCol))
      .sortWithinPartitions(BucketCol, keyCol)
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy(BucketCol).parquet(storename)
  }

  override def read(spark: SparkSession, storename: String,
                    predicates: Seq[Column]): DataFrame = {
    val df = spark.read.parquet(storename).drop(BucketCol)
    predicates.foldLeft(df)(_ filter _)
  }

  /** Point lookup by key set: bucket-pruned + row-group-skipped. Key
    * literals are cast to the STORED key column's type first — `hash` is
    * type-sensitive (hash(10: Int) ≠ hash(10L)), so an uncast literal of
    * the wrong width would probe the wrong bucket and silently miss. */
  def get(spark: SparkSession, storename: String, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "empty key set")
    val stored = spark.read.parquet(storename)
    val keyType = stored.schema(keyCol).dataType
    val keyLits = keys.map(k => lit(k).cast(keyType))
    // evaluate hash(key) % n with the exact kernel the writer used (one
    // driver-local job over a 1-row relation; no hand-rolled murmur)
    val buckets = spark.range(1).select(
        keyLits.zipWithIndex.map { case (k, i) =>
          pmod(hash(k), lit(nBuckets)).as(s"b$i")
        }: _*)
      .head().toSeq.map(_.asInstanceOf[Int]).distinct
    stored
      .filter(col(BucketCol).isin(buckets: _*) && col(keyCol).isin(keyLits: _*))
      .drop(BucketCol)
  }
}

/** Compound full+random-access handler — the reference's
  * `CompoundEngine` (`storage/engine/CompoundEngine.scala:20`), which
  * pairs a sequential-scan engine with a random-access engine over the
  * SAME rows and routes by access pattern. Writes land in both
  * sub-stores (the storage trade for serving both patterns well);
  * full scans serve from the scan engine (columnar, Catalyst
  * pushdown), point lookups from the KV engine (bucket-dir pruning +
  * row-group skip). At 100 TB the duplication doubles storage but
  * keeps BOTH access paths index-grade — the same trade the reference
  * makes by pairing e.g. parquet with PalDB. */
class CompoundHandler(val name: String, scanEngine: StorageHandler,
                      randomEngine: KeyValueHandler) extends StorageHandler {

  override def params: Map[String, String] =
    Map("scan" -> scanEngine.name, "random" -> randomEngine.name) ++
      randomEngine.params.map { case (k, v) => s"random_$k" -> v }

  private def scanStore(s: String) = s"$s/scan"
  private def randomStore(s: String) = s"$s/random"

  override def write(spark: SparkSession, storename: String, df: DataFrame,
                     overwrite: Boolean): Unit = {
    // persist once: both sub-writes consume the same computed frame
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      scanEngine.write(spark, scanStore(storename), cached, overwrite)
      randomEngine.write(spark, randomStore(storename), cached, overwrite)
    } finally cached.unpersist()
  }

  override def read(spark: SparkSession, storename: String,
                    predicates: Seq[Column]): DataFrame =
    scanEngine.read(spark, scanStore(storename), predicates)

  /** Bucket-pruned point lookup from the random-access half. */
  def get(spark: SparkSession, storename: String, keys: Seq[Any]): DataFrame =
    randomEngine.get(spark, randomStore(storename), keys)

  override def drop(spark: SparkSession, storename: String): Unit = {
    scanEngine.drop(spark, scanStore(storename))
    randomEngine.drop(spark, randomStore(storename))
  }

  override def exists(spark: SparkSession, storename: String): Boolean =
    scanEngine.exists(spark, scanStore(storename))
}

/** Handler registry (reference `listStorageHandlers`). */
object StorageHandlers {
  val parquet = new FileFormatHandler("parquet", "parquet")
  val orc = new FileFormatHandler("orc", "orc")
  val json = new FileFormatHandler("json", "json")
  val csv = new FileFormatHandler("csv", "csv",
    Map("header" -> "true", "inferSchema" -> "true"))

  /** Key-value store factory (bucketed by `keyCol`); instances are
    * per-(key, buckets) so they are created at entity level rather than
    * registered globally. */
  def keyValue(keyCol: String, nBuckets: Int = 64): KeyValueHandler =
    new KeyValueHandler("keyvalue", keyCol, nBuckets)

  /** Compound full+random factory (reference `CompoundEngine`): scans
    * from `scan`, point lookups from an embedded KV keyed by `keyCol`. */
  def compound(keyCol: String, scan: StorageHandler = parquet,
               nBuckets: Int = 64): CompoundHandler =
    new CompoundHandler("compound", scan, keyValue(keyCol, nBuckets))

  val all: Map[String, StorageHandler] =
    Seq(parquet, orc, json, csv).map(h => h.name -> h).toMap

  /** Every handler name an entity can use, sorted. */
  def names: Seq[String] = (all.keys.toSeq ++ Seq("keyvalue", "compound")).sorted

  def apply(name: String): StorageHandler =
    all.getOrElse(name, throw new IllegalArgumentException(s"no handler: $name"))

  /** Move data between engines (reference `transferStorageHandler`,
    * `Transferer.scala`). */
  def transfer(spark: SparkSession, from: StorageHandler, fromStore: String,
               to: StorageHandler, toStore: String): Unit =
    to.write(spark, toStore, from.read(spark, fromStore), overwrite = true)
}
