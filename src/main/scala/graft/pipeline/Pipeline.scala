package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal pipeline layer replacing the reference's Dagster orchestration.
  *
  * The reference materializes every stage to S3 parquet between assets
  * (extract -> transform -> load, etl/resources/s3.py) and rebuilds a
  * pandas frame each time. Spark-first, a "pipeline" is just composed
  * DataFrame transformations — Catalyst fuses them into one plan, and
  * stages only materialize at explicit sink boundaries. What remains worth
  * keeping from the orchestration layer is (a) the partitioned storage
  * contract and (b) idempotent per-partition overwrite, both provided here.
  */
object Pipeline {

  /** A named stage: DataFrame in, DataFrame out. Compose with `andThen`. */
  type Stage = DataFrame => DataFrame

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Write one daily partition idempotently, hive-layout
    * `<root>/<stage>/job_name=<job>/date=<yyyyMMdd>/` (reference:
    * etl/resources/s3.py:60 _build_s3_path). Re-running a day replaces
    * exactly that day — the distributed analog of the reference's
    * delete-then-insert upsert, with no row-at-a-time round trips.
    */
  def writeDaily(df: DataFrame, root: String, stage: String, job: String, day: String): String = {
    val path = s"$root/$stage/job_name=$job/date=${day.replace("-", "")}"
    df.write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  /** Read one daily partition back (reference: s3.read_parquet). */
  def readDaily(spark: SparkSession, root: String, stage: String, job: String, day: String): DataFrame =
    spark.read.parquet(s"$root/$stage/job_name=$job/date=${day.replace("-", "")}")

  /** Write a multi-day dataset as one hive-partitioned table,
    * `<root>/<stage>/job_name=<job>/date=<yyyyMMdd>/...`, deriving the
    * partition value from `dateCol`. The int-typed `date` column is a real
    * partition key: readers that filter on it scan only that directory
    * (see readDay), the access pattern of every daily job in the
    * reference (s3.py:60 layout + per-day reads).
    */
  def writeDailyAll(df: DataFrame, root: String, stage: String, job: String,
      dateCol: org.apache.spark.sql.Column): String = {
    val path = s"$root/$stage/job_name=$job"
    df.withColumn("date", date_format(to_date(dateCol), "yyyyMMdd").cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(path)
    path
  }

  /** Idempotent re-run of a subset of days into an EXISTING writeDailyAll
    * table: dynamic partition overwrite replaces exactly the `date=`
    * directories present in `df` and leaves every other day untouched —
    * the distributed form of the reference's per-day delete-then-insert,
    * without rewriting the table. (Plain Overwrite mode would truncate
    * ALL days first.)
    */
  def overwriteDays(df: DataFrame, root: String, stage: String, job: String,
      dateCol: org.apache.spark.sql.Column): String = {
    val path = s"$root/$stage/job_name=$job"
    df.withColumn("date", date_format(to_date(dateCol), "yyyyMMdd").cast("int"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).partitionBy("date").parquet(path)
    path
  }

  /** Partition-pruned read of one day from a writeDailyAll layout: the
    * `date` filter is a PartitionFilter on the scan — directories for
    * other days are never listed into tasks, let alone read.
    */
  def readDay(spark: SparkSession, root: String, stage: String, job: String,
      day: String): DataFrame =
    spark.read.parquet(s"$root/$stage/job_name=$job")
      .where(col("date") === day.replace("-", "").toInt)

  /** Non-partitioned master data lands under `latest/` (reference:
    * s3.py:118 _build_tenant_s3_path with partition_date=None — e.g. the
    * cfg_item_master sync).
    */
  def writeLatest(df: DataFrame, root: String, stage: String, job: String): String = {
    val path = s"$root/$stage/job_name=$job/latest"
    df.write.mode(SaveMode.Overwrite).parquet(path)
    path
  }

  def readLatest(spark: SparkSession, root: String, stage: String, job: String): DataFrame =
    spark.read.parquet(s"$root/$stage/job_name=$job/latest")

  /** Tenant-scoped layout (reference: s3.py:118 _build_tenant_s3_path):
    * `<root>/tenants/<tenant>/<stage>/job_name=<job>/...` — the
    * multi-tenant prefix dimension over the same daily contract.
    */
  def writeDailyForTenant(df: DataFrame, root: String, tenant: String,
      stage: String, job: String, day: String): String =
    writeDaily(df, s"$root/tenants/$tenant", stage, job, day)

  def readDailyForTenant(spark: SparkSession, root: String, tenant: String,
      stage: String, job: String, day: String): DataFrame =
    readDaily(spark, s"$root/tenants/$tenant", stage, job, day)

  def listTenantDaily(root: String, tenant: String, stage: String, job: String): Seq[String] =
    listDaily(s"$root/tenants/$tenant", stage, job)

  /** Partition existence check (reference: s3.py:305 check_exists). */
  def existsDaily(root: String, stage: String, job: String, day: String): Boolean =
    new java.io.File(
      s"$root/$stage/job_name=$job/date=${day.replace("-", "")}").exists()

  /** Drop one day's data (reference: s3.py:323 delete_parquet) — the
    * manual-repair escape hatch; routine re-runs should use
    * writeDaily/overwriteDays, which replace atomically.
    */
  def deleteDaily(root: String, stage: String, job: String, day: String): Boolean = {
    val dir = new java.io.File(s"$root/$stage/job_name=$job/date=${day.replace("-", "")}")
    val existed = dir.exists()
    if (existed) rmTree(dir)
    existed
  }

  /** Compact one day's partition to `targetFiles` files — the maintenance
    * pass behind every streaming/micro-batch writer, whose small files
    * otherwise degrade scan parallelism bookkeeping and open-file cost at
    * scale. The rewrite lands in a staging directory first, so a failure
    * BEFORE the swap leaves the day intact; the delete+rename swap itself
    * is not atomic on a plain filesystem (a lakehouse table format is the
    * real answer at scale), so a failed rename raises instead of
    * returning success over a truncated day.
    */
  def compactDaily(spark: SparkSession, root: String, stage: String, job: String,
      day: String, targetFiles: Int): Unit = {
    val path = s"$root/$stage/job_name=$job/date=${day.replace("-", "")}"
    val tmp = path + "__compact"
    spark.read.parquet(path).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    rmTree(new java.io.File(path))
    if (!new java.io.File(tmp).renameTo(new java.io.File(path)))
      throw new java.io.IOException(
        s"compaction swap failed: $tmp could not replace $path — recover from $tmp")
  }

  /** Partition inventory for a job (reference: s3.list_partitions). */
  def listDaily(root: String, stage: String, job: String): Seq[String] = {
    val dir = new java.io.File(s"$root/$stage/job_name=$job")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
      .map(_.getName.stripPrefix("date="))
      .sorted.toSeq
  }

  /** Materialize a DataFrame as a bucketed, bucket-sorted external table:
    * the persistent co-location contract. The bucketing shuffle is paid
    * ONCE at write; every later equi-join or aggregation on `key` between
    * co-bucketed tables plans with NO shuffle exchange on the big sides —
    * at 100 TB this is what makes a recurring fact-fact join (lineitem x
    * orders every day) affordable. Bucket count must match across the
    * tables that will join.
    */
  def writeBucketed(df: DataFrame, table: String, root: String,
      buckets: Int, key: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("path", s"$root/$table")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Co-located fact-fact join over two bucketed tables. The MERGE hint
    * pins a sort-merge join (a broadcast would mask the co-location), and
    * because both scans are pre-bucketed on their join keys the only
    * exchange in the whole plan is the final small aggregation.
    */
  def bucketedJoinAgg(spark: SparkSession, liTable: String, ordTable: String): DataFrame = {
    val li = spark.table(liTable).hint("merge")
    val ord = spark.table(ordTable)
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(3,2)")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(price * (lit(1).cast("decimal(3,2)") - disc)).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Morton (Z-order) code of two bounded non-negative int columns: bit b
    * of x lands at position 2b, bit b of y at 2b+1. Pure bit arithmetic —
    * codegen-friendly, no UDF. Inputs are widened to long first so the
    * interleave stays non-negative for any bits <= 31 (an int input with
    * bits >= 16 would shift y's top bit into the int sign bit and corrupt
    * the range-partition sort downstream).
    */
  def mortonCode(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"mortonCode bits must be in [1,31]: $bits")
    val xl = x.cast("long"); val yl = y.cast("long")
    (0 until bits).map { b =>
      shiftleft(shiftright(xl, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(yl, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered write: rows range-partitioned and sorted by the
    * Morton interleave of two dimensions across `numFiles` files, so
    * per-file row-group min/max stats prune selective predicates on
    * EITHER dimension — the multi-dimensional layout a lakehouse uses
    * when hive partitioning can only serve one key. A lexicographic
    * (x, y) sort serves x the same way but leaves y predicates reading
    * every file; the Z-curve bounds both dims within each file, cutting
    * decoded rows to ~1/sqrt(files) per point predicate. Files-as-tasks
    * is exactly the cluster-scale shape (ZOrderSpec measures the pruning
    * via scan metrics on both layouts).
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, bits: Int,
      path: String, numFiles: Int): Unit =
    df.withColumn("_z", mortonCode(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write
      .mode(SaveMode.Overwrite).parquet(path)

  /** Dataset-level upsert into a keyed parquet table: existing rows whose
    * keys collide with `updates` are replaced, others kept. The scalable
    * form of trino.upsert_dataframe (reference: etl/resources/trino.py:165).
    */
  def upsertTable(spark: SparkSession, tablePath: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val merged =
      if (new java.io.File(tablePath).exists()) {
        val target = spark.read.parquet(tablePath)
        graft.operators.Etl.upsert(target, updates, keys)
      } else updates
    // Stage then swap: parquet can't overwrite its own input in place.
    val tmp = tablePath + "__staged"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    val dst = new java.io.File(tablePath)
    if (dst.exists()) rmTree(dst)
    if (!new java.io.File(tmp).renameTo(dst))
      throw new java.io.IOException(
        s"upsert swap failed: $tmp could not replace $tablePath — recover from $tmp")
  }
}
