package graft.sinks

import java.io.FileNotFoundException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Native keyed upsert table writer — the reference's one nontrivial
  * operator (K2, SURVEY §2.1/§7.4): Hudi COPY_ON_WRITE `upsert` with
  * `recordkey.field=record_id`, `precombine.field=event_time`,
  * `partitionpath.field=routeId` (`01-setup-ec-vm.md:262-272`),
  * re-expressed on stock Spark:
  *
  *  1. precombine the incoming batch: `row_number()` over
  *     (partition key, order precombine DESC) == 1 — within-batch
  *     duplicates collapse to the newest row;
  *  2. merge against current table state: union, same window, incoming
  *     rows win precombine ties (last-writer-wins, replay-idempotent);
  *  3. rewrite ONLY the touched partitions via dynamic partition
  *     overwrite — Hudi-COW-like write amplification: cost is
  *     O(touched partitions), not O(table). True file-level indexing
  *     (Hudi's bloom index) is out of scope; partition-level COW is the
  *     documented bound.
  *
  * Scale notes: the batch is parsed and precombined once, into a
  * local checkpoint that every later step reads. The table root is
  * listed once; only the touched partition directories that exist are
  * listed, read and rewritten, so no step lists or scans the whole
  * table. The merge shuffles on the record key once, and only when a
  * touched partition already exists; otherwise the precombined batch
  * is written as is. `localCheckpoint` cuts the lineage so the
  * overwrite doesn't read the path it is rewriting.
  *
  * The write is hash-clustered by the partition column, so each batch
  * writes one file per touched partition, over `min(cores, touched)`
  * tasks: the write uses every core, and a batch large enough to keep
  * many record-key partitions still writes one file per partition, not
  * one per record-key partition. The trade-off: each route's rows land
  * in one task, so a hot route bounds the write's tail (Hudi COW has
  * the same property per file group).
  *
  * Per-file cost on the local filesystem: without the native Hadoop
  * library (`libhadoop`), `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for each data file, for its `.crc` and for each
  * partition directory. Upserting 150 partitions into an empty table
  * (150 data files, 150 `.crc`, 150 directories) started 965-989
  * processes and took 2.4-2.7 s on a 4-vCPU VM at `local[2]`: ~6.5
  * processes and ~17 ms per data file. A distributed filesystem or a
  * native-enabled Hadoop does not pay it.
  *
  * Key-partition moves: like Hudi's default (non-global) index, the
  * upsert is partition-local — a key whose `routeId` changes gets a new
  * row in the new partition and the stale row in the old partition is
  * NOT removed (the batch never touches that partition). A global-index
  * variant would read all partitions on every merge; at 100 TB that is
  * the wrong default for an append-mostly CDC stream whose partition key
  * (route) is stable per vehicle record.
  */
object UpsertWriter {

  final case class Keys(
      recordKey: String = "record_id",
      precombine: String = "event_time",
      partition: String = "routeId")

  /** Collapse duplicates within `df`: newest precombine per key wins;
    * `tiebreak` orders equal-precombine rows. */
  def precombine(df: DataFrame, keys: Keys, extraTiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(keys.precombine).desc +: extraTiebreak.map(col(_).desc))
    val w = Window.partitionBy(col(keys.recordKey)).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Upsert `batch` into the partitioned parquet table at `tableDir`. */
  def upsert(batch: DataFrame, tableDir: String, keys: Keys = Keys()): Unit = {
    val spark = batch.sparkSession
    // One pass over the batch: every step below reads this checkpoint.
    val incoming = precombine(batch, keys).localCheckpoint(true)

    // Touched partitions, named the way the writer names their
    // directories (escaped; null -> __HIVE_DEFAULT_PARTITION__). The set
    // comes from the precombined batch, so upserts stay partition-local.
    // Micro-batch-sized: the driver-side collect is bounded by batch
    // cardinality, not table size.
    val touched = incoming.select(col(keys.partition).cast("string")).distinct().collect()
      .map(r => ExternalCatalogUtils.getPartitionPathString(keys.partition, r.getString(0)))
    if (touched.isEmpty) return

    // Filesystem-agnostic listing of the table root only (java.io.File
    // would silently report nothing for hdfs://, s3a://, …).
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk =
      try fs.listStatus(root).map(_.getPath.getName).toSet
      catch { case _: FileNotFoundException => Set.empty[String] }
    val dirs = touched.filter(onDisk).map(new Path(root, _).toString)

    val winners = if (dirs.isEmpty) incoming else {
      // The batch's schema selects its columns by name from the files.
      val current = spark.read.schema(incoming.schema).option("basePath", tableDir)
        .parquet(dirs.toIndexedSeq: _*)
        .withColumn("__src", lit(0))
      val merged = current.unionByName(incoming.withColumn("__src", lit(1)))
      // Cut lineage: the overwrite below must not plan a scan of tableDir.
      precombine(merged, keys, extraTiebreak = Seq("__src")).drop("__src").localCheckpoint(true)
    }

    // One task per group of partition values: every touched directory
    // is written by exactly one task (one file each), on up to every
    // core. By number, so AQE does not coalesce it back to one task.
    val writers = math.min(spark.sparkContext.defaultParallelism, touched.length)
    winners.repartition(writers, col(keys.partition)).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(keys.partition)
      .parquet(tableDir)
  }

  /** Read current table state (partition column restored from dir names). */
  def readTable(spark: org.apache.spark.sql.SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir)
}
